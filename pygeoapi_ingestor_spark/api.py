"""Process-execution API: the OGC-processes-shaped entry point.

Reference parity: each ingestor is a pygeoapi process executed via REST
(``invoke/invoke_ingestor.py`` posts ``{"inputs": {...}}`` to
``/processes/<id>/execution``) or locally
(``invoke/invoke_ingestor_locally.py`` resolves a processor class from
env vars and calls ``execute``). This module is the same contract over
the Spark engine: named processes, dict-in/dict-out, status + outputs.

Two process families are exposed:
- every catalog query (``plans.QUERIES``) as a read-only process whose
  output is the result row count + a bounded sample;
- registered ``processes.IngestProcess`` instances, which write and
  register collections.
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import SparkSession

from pygeoapi_ingestor_spark.functions.storage import finalize_job, in_flight
from pygeoapi_ingestor_spark.plans import QUERIES
from pygeoapi_ingestor_spark.processes import IngestProcess, ProcessorExecuteError
from pygeoapi_ingestor_spark.sinks.collections import published_schema

log = logging.getLogger(__name__)

MAX_SAMPLE_ROWS = 100


def _json_safe(obj):
    """Recursively make a sampled row JSON-serializable (datetimes ->
    isoformat, Decimals -> float, bytes -> hex)."""
    import datetime
    import decimal

    if isinstance(obj, dict):
        return {k: _json_safe(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_json_safe(v) for v in obj]
    if isinstance(obj, (datetime.datetime, datetime.date)):
        return obj.isoformat()
    if isinstance(obj, decimal.Decimal):
        return float(obj)
    if isinstance(obj, (bytes, bytearray)):
        return bytes(obj).hex()
    return obj


def _encode_cursor(value):
    """Lossless, JSON-serializable keyset cursor.

    ``_json_safe`` is the wrong codec for the cursor: Decimal→float is
    lossy (the next page's ``> cursor`` comparison would skip rows) and
    bytes→hex changes the collation. Instead tag the value with its type
    so ``_decode_cursor`` can rebuild the exact original before
    ``F.lit``: datetimes round-trip losslessly through ISO-8601, Decimal
    through its string form, bytes through hex. Primitives pass through
    untagged."""
    import datetime
    import decimal

    if isinstance(value, datetime.datetime):
        return {"$cursor": "datetime", "v": value.isoformat()}
    if isinstance(value, datetime.date):
        return {"$cursor": "date", "v": value.isoformat()}
    if isinstance(value, decimal.Decimal):
        return {"$cursor": "decimal", "v": str(value)}
    if isinstance(value, (bytes, bytearray)):
        return {"$cursor": "bytes", "v": bytes(value).hex()}
    return value


def _decode_cursor(value):
    """Inverse of ``_encode_cursor``; raw (untagged) values pass
    through, so callers holding an original column value keep working."""
    import datetime
    import decimal

    if isinstance(value, dict) and "$cursor" in value:
        tag, v = value["$cursor"], value["v"]
        if tag == "datetime":
            return datetime.datetime.fromisoformat(v)
        if tag == "date":
            return datetime.date.fromisoformat(v)
        if tag == "decimal":
            return decimal.Decimal(v)
        if tag == "bytes":
            return bytes.fromhex(v)
        raise ValueError(f"unknown cursor type {tag!r}")
    return value


class ProcessAPI:
    def __init__(self, default_sf_dir: str = "/root/testdata/sf0.001"):
        self.default_sf_dir = default_sf_dir
        self._ingestors: dict[str, IngestProcess] = {}

    def register_ingestor(self, proc: IngestProcess) -> None:
        if proc.collection_id in QUERIES:
            raise ValueError(
                f"ingestor id {proc.collection_id!r} shadows a catalog query"
            )
        self._ingestors[proc.collection_id] = proc

    def list_processes(self) -> list[dict[str, Any]]:
        """Process descriptions (the /processes listing analog)."""
        out = [
            {"id": key, "kind": "query", "jobControl": "sync"}
            for key in sorted(QUERIES)
        ]
        out += [
            {"id": cid, "kind": "ingestor", "jobControl": "sync"}
            for cid in sorted(self._ingestors)
        ]
        return out

    def items(
        self,
        spark: SparkSession,
        collection_path: str,
        datetime_range: tuple[str | None, str | None] | None = None,
        bbox: tuple[float, float, float, float] | None = None,
        properties: dict[str, Any] | None = None,
        sort_col: str | None = None,
        limit: int = 10,
        offset: int = 0,
        after: Any | None = None,
        time_col: str = "ts",
        lon_col: str = "lon",
        lat_col: str = "lat",
        count_matched: bool = False,
    ) -> dict[str, Any]:
        """The ``/collections/{id}/items`` read surface (pygeoapi
        feature-paging analog): datetime interval + bbox + property
        equality filters, deterministic paging, bounded response.

        Every filter is a plain column predicate, so it reaches the
        parquet scan as a pushed-down filter (plan-asserted in tests) —
        at 100 TB the page costs a pruned scan, not a full read. A
        collection published through ``CollectionCatalog.register`` with
        its schema is read with it: no schema-inference job per page.

        Two paging modes share the ORDER BY sort_col + LIMIT plan
        (TakeOrdered: top-k per partition + merge, no global sort):

        - ``after`` — KEYSET paging, the scale path: the filter
          ``sort_col > after`` is a pushed-down predicate, so page
          depth costs nothing — page 10,000 scans the same rows as
          page 1. The response's ``nextAfter`` is the cursor for the
          next call. Requires a unique ``sort_col``.
        - ``offset`` — positional OFFSET/LIMIT for OGC compatibility:
          every skipped row is still produced by the top-k, so deep
          offsets degrade linearly; fine for shallow UI paging, wrong
          for crawls.
        """
        schema = published_schema(collection_path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(collection_path)
        if datetime_range is not None:
            lo, hi = datetime_range
            from pyspark.sql import functions as F

            if lo is not None:
                df = df.filter(F.col(time_col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(time_col) < F.lit(hi))
        if bbox is not None:
            from pygeoapi_ingestor_spark.operators.spatial import bbox_filter

            df = bbox_filter(df, *bbox, lon_col=lon_col, lat_col=lat_col)
        if properties:
            from pyspark.sql import functions as F

            for k, v in properties.items():
                df = df.filter(F.col(k) == F.lit(v))
        matched = df.count() if count_matched else None
        limit = max(0, min(int(limit), MAX_SAMPLE_ROWS))
        offset = max(0, int(offset))
        page = df
        if after is not None:
            if sort_col is None:
                raise ValueError("keyset paging (after=...) requires sort_col")
            from pyspark.sql import functions as F

            page = page.filter(F.col(sort_col) > F.lit(_decode_cursor(after)))
        if sort_col is not None:
            page = page.orderBy(sort_col)
        if offset and after is None:
            page = page.offset(offset)
        collected = page.limit(limit).collect()
        rows = [_json_safe(r.asDict(recursive=True)) for r in collected]
        out = {
            "type": "items",
            "numberReturned": len(rows),
            "features": rows,
            "offset": offset,
        }
        if sort_col is not None and collected:
            # typed lossless cursor: json.dumps(response) must work even
            # for timestamp/decimal sort keys, and the decode side must
            # rebuild the EXACT original value for the `> cursor` filter
            out["nextAfter"] = _encode_cursor(collected[-1][sort_col])
        if matched is not None:
            out["numberMatched"] = int(matched)
        return out

    def execute(
        self, spark: SparkSession, process_id: str,
        inputs: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Execute one process; dict response mirrors the reference's
        ``{"id", "status", "value"}`` output shape. Never raises.

        The work runs ``in_flight()`` and is followed by ``finalize_job``
        — the scheduler's between-jobs release: operators deliberately
        persist index artifacts (LSH signatures, PPJoin tokens, PQ
        codes) for their own downstream actions and cannot know when
        the caller is done. The release waits for the last in-flight
        execute, so concurrent callers sharing one session never lose
        each other's state (functions/storage).
        """
        inputs = dict(inputs or {})
        if process_id in self._ingestors:
            run = self._execute_ingestor
        elif process_id in QUERIES:
            run = self._execute_query
        else:
            return {
                "id": process_id,
                "status": "failed",
                "message": f"unknown process {process_id!r}",
            }
        try:
            with in_flight():
                return run(spark, process_id, inputs)
        finally:
            try:
                finalize_job(spark)
            except Exception:
                # a failed release must not turn a finished request
                # into a failure
                log.exception("finalize_job failed after %r", process_id)

    def _execute_ingestor(self, spark, process_id, inputs):
        try:
            res = self._ingestors[process_id].execute(
                spark, inputs, force=bool(inputs.pop("force", False))
            )
        except ProcessorExecuteError as e:
            return {"id": process_id, "status": "failed", "message": str(e)}
        return {
            "id": process_id,
            "status": res.status.lower(),
            "message": res.message,
            "value": res.extents,
        }

    def _execute_query(self, spark, process_id, inputs):
        try:
            sf_dir = inputs.get("sf_dir", self.default_sf_dir)
            limit = int(inputs.get("limit", MAX_SAMPLE_ROWS))
            # MAX_SAMPLE_ROWS is a hard cap, not just a default — the
            # sample must stay driver-safe regardless of inputs
            limit = max(0, min(limit, MAX_SAMPLE_ROWS))
            df = QUERIES[process_id](spark, sf_dir)
            rows = [
                _json_safe(r.asDict(recursive=True))
                for r in df.limit(limit).collect()
            ]
        except Exception as e:  # dict-in/dict-out: never raise
            return {
                "id": process_id,
                "status": "failed",
                "message": str(e)[:500],
            }
        return {
            "id": process_id,
            "status": "successful",
            "value": {"n_rows_sampled": len(rows), "rows": rows},
        }


class JobManager:
    """Async job execution for ProcessAPI — the OGC-processes async mode
    (pygeoapi's ``Prefer: respond-async``: POST returns a job id, the
    client polls /jobs/{id}). The reference runs its processes this way
    under the scheduler; here jobs run on a thread pool sharing the
    SparkSession (Spark sessions are thread-safe; each job's actions
    get their own job group so a cancel targets only that job's stages).

    States follow OGC: accepted -> running -> successful | failed |
    dismissed. ``dismiss`` cancels the Spark job group mid-flight.
    """

    def __init__(self, api: ProcessAPI, max_workers: int = 4):
        import threading
        from concurrent.futures import ThreadPoolExecutor

        self.api = api
        self._pool = ThreadPoolExecutor(max_workers=max_workers)
        self._jobs: dict[str, dict[str, Any]] = {}
        self._lock = threading.Lock()
        self._n = 0

    def submit(
        self, spark: SparkSession, process_id: str,
        inputs: dict[str, Any] | None = None,
    ) -> str:
        with self._lock:
            self._n += 1
            job_id = f"job-{self._n:06d}"
            self._jobs[job_id] = {"id": job_id, "process": process_id,
                                  "status": "accepted", "result": None}

        def _run():
            with self._lock:
                if self._jobs[job_id]["status"] == "dismissed":
                    return
                self._jobs[job_id]["status"] = "running"
            try:
                spark.sparkContext.setJobGroup(job_id, f"api job {job_id}",
                                               interruptOnCancel=True)
                try:
                    res = self.api.execute(spark, process_id, inputs)
                finally:
                    # Spark 4 dropped SparkContext.clearJobGroup; reset
                    # the thread-local property directly
                    spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", None
                    )
            except BaseException as e:  # noqa: BLE001 — a crashed worker
                # must surface as a failed job, never a silent 'running'
                res = {"id": process_id, "status": "failed",
                       "message": repr(e)[:500]}
            status = res.get("status", "failed")
            # ingestor results use the reference's ok/skipped vocabulary
            # (ProcessResult.OK/SKIPPED); the job ledger speaks OGC, so
            # map both onto the 'successful' terminal state — otherwise
            # wait() would spin its full timeout on every ingestor job
            if status in ("ok", "skipped"):
                status = "successful"
            with self._lock:
                if self._jobs[job_id]["status"] == "dismissed":
                    return
                self._jobs[job_id]["status"] = status
                self._jobs[job_id]["result"] = res

        self._pool.submit(_run)
        return job_id

    def status(self, job_id: str) -> dict[str, Any]:
        with self._lock:
            job = self._jobs.get(job_id)
            if job is None:
                return {"id": job_id, "status": "not-found"}
            return {"id": job_id, "process": job["process"],
                    "status": job["status"]}

    def result(self, job_id: str) -> dict[str, Any] | None:
        with self._lock:
            job = self._jobs.get(job_id)
            return None if job is None else job["result"]

    def dismiss(self, spark: SparkSession, job_id: str) -> dict[str, Any]:
        with self._lock:
            job = self._jobs.get(job_id)
            if job is None:
                return {"id": job_id, "status": "not-found"}
            # OGC dismiss must not rewrite history: a job that already
            # reached a terminal state keeps its true outcome
            if job["status"] in ("successful", "failed", "dismissed"):
                return {"id": job_id, "status": job["status"]}
            job["status"] = "dismissed"
        spark.sparkContext.cancelJobGroup(job_id)
        return {"id": job_id, "status": "dismissed"}

    def wait(self, job_id: str, timeout_s: float = 60.0) -> dict[str, Any]:
        import time as _time

        deadline = _time.monotonic() + timeout_s
        while _time.monotonic() < deadline:
            st = self.status(job_id)
            if st["status"] in ("successful", "failed", "dismissed",
                               "not-found"):
                return st
            _time.sleep(0.05)
        return self.status(job_id)
