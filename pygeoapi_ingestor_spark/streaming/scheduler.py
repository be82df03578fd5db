"""Scheduler shim: config-driven process execution.

Reference parity (scheduler.sh / scheduler.yaml / init_script/
init_main.py): each entry names a process, its inputs, and a
``frequency`` that is either ``on-demand`` (run at startup) or a cron
expression (run on schedule). We keep the same config shape; in a Spark
deployment the cron tick is the cluster scheduler (Airflow/k8s CronJob)
invoking ``run_process``, and ``on-demand`` entries run immediately.

The process registry maps process names to callables
``(spark, inputs) -> DataFrame`` — the batch queries from
``plans.QUERIES`` are all valid processes.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

# the between-jobs release lives with the state it releases
from pygeoapi_ingestor_spark.functions.storage import finalize_job


@dataclass
class ScheduledProcess:
    name: str
    process: str
    frequency: str  # "on-demand" | 5-field cron expression
    inputs: dict = field(default_factory=dict)

    @property
    def on_demand(self) -> bool:
        return self.frequency.strip().lower() == "on-demand"


def parse_scheduler_config(cfg: dict) -> list[ScheduledProcess]:
    """Parse a scheduler mapping: {jobs: [{name, process, frequency,
    inputs}, ...]} (the reference's scheduler.yaml shape)."""
    jobs = []
    for raw in cfg.get("jobs", []):
        jobs.append(
            ScheduledProcess(
                name=raw["name"],
                process=raw["process"],
                frequency=str(raw.get("frequency", "on-demand")),
                inputs=dict(raw.get("inputs", {})),
            )
        )
    return jobs


def _field_matches(expr: str, value: int, lo: int, hi: int, norm=None) -> bool:
    norm = norm or (lambda x: x)
    if expr == "*":
        return True
    for part in expr.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
        if part == "*":
            if (value - lo) % step == 0:
                return True
        elif "-" in part:
            a_s, b_s = part.split("-")
            a, b = int(a_s), int(b_s)
            # expand to the member set BEFORE normalizing: '5-7' in dow
            # means {5,6,7}->{5,6,0}; normalizing the bounds first would
            # produce the empty range 5..0 and the entry would never fire
            if a <= b:
                members = list(range(a, b + 1))
            else:
                # wrap-around range (e.g. dow 6-1): a..hi then lo..b
                members = list(range(a, hi + 1)) + list(range(lo, b + 1))
            if any(norm(x) == value for x in members[::step]):
                return True
        elif part and norm(int(part)) == value:
            return True
    return False


def cron_matches(expr: str, when: datetime.datetime) -> bool:
    """Vixie-cron 5-field match (minute hour dom month dow).

    Standard semantics reproduced: dow accepts both 0 and 7 for Sunday;
    ranges support steps (``1-5/2``); and when BOTH day-of-month and
    day-of-week are restricted, the entry fires if EITHER matches
    (crontab(5) behavior) rather than requiring both.
    """
    fields = expr.split()
    if len(fields) != 5:
        raise ValueError(f"not a 5-field cron expression: {expr!r}")
    minute, hour, dom, month, dow = fields
    base = (
        _field_matches(minute, when.minute, 0, 59)
        and _field_matches(hour, when.hour, 0, 23)
        and _field_matches(month, when.month, 1, 12)
    )
    if not base:
        return False
    dom_hit = _field_matches(dom, when.day, 1, 31)
    dow_hit = _field_matches(dow, when.isoweekday() % 7, 0, 7, norm=lambda d: d % 7)
    # Vixie marks a field unrestricted when it STARTS with '*' (so
    # '*/2' is a star field): either-match applies only when BOTH
    # fields are non-star (crontab(5) / Vixie entry.c DOM_STAR|DOW_STAR)
    if not dom.startswith("*") and not dow.startswith("*"):
        return dom_hit or dow_hit
    return dom_hit and dow_hit


def due_jobs(
    jobs: list[ScheduledProcess], when: datetime.datetime, include_on_demand: bool
) -> list[ScheduledProcess]:
    out = []
    for j in jobs:
        if j.on_demand:
            if include_on_demand:
                out.append(j)
        elif cron_matches(j.frequency, when):
            out.append(j)
    return out


def run_process(spark, registry: dict, job: ScheduledProcess):
    """Execute one scheduled process and return its result DataFrame."""
    fn = registry[job.process]
    return fn(spark, **job.inputs)


def backfill(
    spark,
    registry: dict,
    process: str,
    collection_path: str,
    partition_col: str,
    start: str,
    end: str,
    inputs_for_day=None,
) -> dict:
    """Close the idempotent-ingest loop: plan the missing partitions
    (sinks.missing_partitions), run the registered process once per
    missing day, and append each day's slice into the collection — the
    catch-up pass a scheduler runs after downtime (the reference's
    skip-if-exists ticks, driven as one work list).

    ``inputs_for_day(day) -> dict`` builds the per-day process inputs
    (default: {"day": day}). Per-day failures are recorded, not raised —
    one bad slice must not abort the rest of the catch-up. Returns
    {planned, landed, failed}.
    """
    from pygeoapi_ingestor_spark.sinks.collections import missing_partitions

    plan = missing_partitions(spark, collection_path, partition_col, start, end)
    landed, failed = [], {}
    for day in plan:
        try:
            df = run_process(
                spark, registry,
                ScheduledProcess(
                    name=f"backfill-{day}", process=process,
                    frequency="on-demand",
                    inputs=(inputs_for_day(day) if inputs_for_day
                            else {"day": day}),
                ),
            )
            (
                df.write.mode("append")
                .partitionBy(partition_col)
                .parquet(collection_path)
            )
            landed.append(day)
        except Exception as e:  # noqa: BLE001
            failed[day] = str(e)[:200]
        finalize_job(spark)
    return {"planned": plan, "landed": landed, "failed": failed}
