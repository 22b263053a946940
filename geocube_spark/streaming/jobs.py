"""Job/task lifecycle as Structured Streaming + batch state transitions.

The reference's asynchrony is a state machine over a message queue
(job.go:28-57 states, cmd/consolidater/main.go:117-170 queue loop).  Parity
does not require streaming (SURVEY §2.9), but the natural Spark surface is:

- a ``tasks`` parquet/Delta table as the queue (append = enqueue)
- a Structured Streaming reader over it with ``foreachBatch`` applying the
  handler idempotently (the reference's retry/requeue semantics fall out of
  replayable micro-batches)
- windowed event aggregation with watermarks for the events table

This module provides both the streaming wiring and the batch-mode state
transition used by tests (same function, same semantics).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geocube_spark import session

# ---------------------------------------------------------------------------
# The COMPLETE job state machine (reference internal/geocube/job.go:28-130
# states/levels, 350-641 triggers) — both job types, retry/cancel/rollback
# arcs, and the step-by-step Waiting semantics.
#
# ExecutionLevel enum (job.go:119-130): a job created with level L pauses
# ("Waiting") after entering any state whose pause level <= L.
EXEC_SYNCHRONOUS = 0
EXEC_ASYNCHRONOUS = 1
STEP_CRITICAL = 2  # pause at critical steps
STEP_MAJOR = 3  # pause at major steps
STEP_ALL = 4  # pause at every step
STEP_NEVER = 5  # sentinel: this state never pauses

# state -> (pause_level, generic_retry_forced_is_noop)   (job.go:62-83)
JOB_STATE_INFO: dict[str, tuple[int, bool]] = {
    "NEW": (STEP_ALL, True),
    "CREATED": (STEP_MAJOR, True),
    "CONSOLIDATIONINPROGRESS": (STEP_CRITICAL, False),
    "CONSOLIDATIONDONE": (STEP_MAJOR, True),
    "CONSOLIDATIONINDEXED": (STEP_ALL, True),
    "CONSOLIDATIONEFFECTIVE": (STEP_CRITICAL, True),
    "CONSOLIDATIONFAILED": (STEP_ALL, False),
    "CONSOLIDATIONRETRYING": (STEP_MAJOR, True),
    "CONSOLIDATIONFORCERETRYING": (STEP_MAJOR, True),
    "CONSOLIDATIONCANCELLING": (STEP_MAJOR, True),
    "DELETIONINPROGRESS": (STEP_CRITICAL, True),
    "DELETIONEFFECTIVE": (STEP_MAJOR, True),
    "DELETIONFAILED": (STEP_ALL, False),
    "DONE": (STEP_NEVER, False),
    "FAILED": (STEP_NEVER, False),
    "INITIALISATIONFAILED": (STEP_ALL, False),
    "CANCELLATIONFAILED": (STEP_ALL, False),
    "ABORTED": (STEP_MAJOR, True),
    "ROLLBACKFAILED": (STEP_ALL, False),
    "DONEBUTUNTIDY": (STEP_NEVER, False),
}

# (state, event) -> (next_state, only_when_waiting)
# only_when_waiting=True models the reference's `if j.Waiting` guard on
# CancelledByUser: a plain cancel only lands while the job is paused; a
# forced cancel lands anytime (job.go:395-401 and siblings).
CONSOLIDATION_ARCS: dict[tuple[str, str], tuple[str, bool]] = {
    # job.go:390-533 (triggerConsolidation)
    ("NEW", "CancelledByUserForced"): ("ABORTED", False),
    ("NEW", "CancelledByUser"): ("ABORTED", True),
    ("NEW", "JobCreated"): ("CREATED", False),
    ("CREATED", "CancelledByUserForced"): ("ABORTED", False),
    ("CREATED", "CancelledByUser"): ("ABORTED", True),
    ("CREATED", "PrepareOrdersFailed"): ("INITIALISATIONFAILED", False),
    ("CREATED", "OrdersPrepared"): ("CONSOLIDATIONINPROGRESS", False),
    ("CONSOLIDATIONINPROGRESS", "RetryForced"): ("CONSOLIDATIONFORCERETRYING", False),
    ("CONSOLIDATIONINPROGRESS", "Retried"): ("CONSOLIDATIONRETRYING", False),
    ("CONSOLIDATIONINPROGRESS", "CancelledByUser"): ("CONSOLIDATIONCANCELLING", False),
    ("CONSOLIDATIONINPROGRESS", "CancelledByUserForced"): ("CONSOLIDATIONCANCELLING", False),
    ("CONSOLIDATIONINPROGRESS", "ConsolidationFailed"): ("CONSOLIDATIONFAILED", False),
    ("CONSOLIDATIONINPROGRESS", "SendOrdersFailed"): ("CONSOLIDATIONFAILED", False),
    ("CONSOLIDATIONINPROGRESS", "ConsolidationDone"): ("CONSOLIDATIONDONE", False),
    ("CONSOLIDATIONDONE", "CancelledByUserForced"): ("ABORTED", False),
    ("CONSOLIDATIONDONE", "CancelledByUser"): ("ABORTED", True),
    ("CONSOLIDATIONDONE", "ConsolidationIndexingFailed"): ("CONSOLIDATIONFAILED", False),
    ("CONSOLIDATIONDONE", "ConsolidationIndexed"): ("CONSOLIDATIONINDEXED", False),
    ("CONSOLIDATIONINDEXED", "CancelledByUserForced"): ("ABORTED", False),
    ("CONSOLIDATIONINDEXED", "CancelledByUser"): ("ABORTED", True),
    ("CONSOLIDATIONINDEXED", "SwapDatasetsFailed"): ("CONSOLIDATIONFAILED", False),
    ("CONSOLIDATIONINDEXED", "DatasetsSwapped"): ("CONSOLIDATIONEFFECTIVE", False),
    ("CONSOLIDATIONEFFECTIVE", "StartDeletionFailed"): ("DONEBUTUNTIDY", False),
    ("CONSOLIDATIONEFFECTIVE", "DeletionStarted"): ("DONE", False),
    ("DONEBUTUNTIDY", "RetryForced"): ("CONSOLIDATIONEFFECTIVE", False),
    ("DONEBUTUNTIDY", "Retried"): ("CONSOLIDATIONEFFECTIVE", False),
    ("CONSOLIDATIONCANCELLING", "CancellationFailed"): ("CANCELLATIONFAILED", False),
    ("CONSOLIDATIONCANCELLING", "CancellationDone"): ("ABORTED", False),
    ("CANCELLATIONFAILED", "Retried"): ("CONSOLIDATIONCANCELLING", False),
    ("CANCELLATIONFAILED", "RetryForced"): ("CONSOLIDATIONCANCELLING", False),
    ("INITIALISATIONFAILED", "Retried"): ("CREATED", False),
    ("INITIALISATIONFAILED", "RetryForced"): ("CREATED", False),
    ("INITIALISATIONFAILED", "CancelledByUser"): ("ABORTED", False),
    ("INITIALISATIONFAILED", "CancelledByUserForced"): ("ABORTED", False),
    ("CONSOLIDATIONFAILED", "Retried"): ("CONSOLIDATIONRETRYING", False),
    ("CONSOLIDATIONFAILED", "RetryForced"): ("CONSOLIDATIONRETRYING", False),
    ("CONSOLIDATIONFAILED", "CancelledByUser"): ("ABORTED", False),
    ("CONSOLIDATIONFAILED", "CancelledByUserForced"): ("ABORTED", False),
    ("ABORTED", "RollbackFailed"): ("ROLLBACKFAILED", False),
    ("ABORTED", "RollbackDone"): ("FAILED", False),
    ("ROLLBACKFAILED", "RetryForced"): ("ABORTED", False),
    ("ROLLBACKFAILED", "Retried"): ("ABORTED", False),
    ("ROLLBACKFAILED", "CancelledByUserForced"): ("FAILED", False),
    ("CONSOLIDATIONRETRYING", "ConsolidationRetryFailed"): ("CONSOLIDATIONFAILED", False),
    ("CONSOLIDATIONRETRYING", "OrdersPrepared"): ("CONSOLIDATIONINPROGRESS", False),
    ("CONSOLIDATIONFORCERETRYING", "ConsolidationRetryFailed"): ("CONSOLIDATIONFAILED", False),
    ("CONSOLIDATIONFORCERETRYING", "OrdersPrepared"): ("CONSOLIDATIONINPROGRESS", False),
}

DELETION_ARCS: dict[tuple[str, str], tuple[str, bool]] = {
    # job.go:535-641 (triggerDeletion)
    ("NEW", "CancelledByUserForced"): ("ABORTED", False),
    ("NEW", "CancelledByUser"): ("ABORTED", True),
    ("NEW", "JobCreated"): ("CREATED", False),
    ("CREATED", "CancelledByUserForced"): ("ABORTED", False),
    ("CREATED", "CancelledByUser"): ("ABORTED", True),
    ("CREATED", "DeletionNotReady"): ("INITIALISATIONFAILED", False),
    ("CREATED", "DeletionReady"): ("DELETIONINPROGRESS", False),
    ("DELETIONINPROGRESS", "CancelledByUserForced"): ("ABORTED", False),
    ("DELETIONINPROGRESS", "CancelledByUser"): ("ABORTED", True),
    ("DELETIONINPROGRESS", "RemovalFailed"): ("DELETIONFAILED", False),
    ("DELETIONINPROGRESS", "RemovalDone"): ("DELETIONEFFECTIVE", False),
    ("DELETIONEFFECTIVE", "CancelledByUserForced"): ("ABORTED", False),
    ("DELETIONEFFECTIVE", "DeletionFailed"): ("DONEBUTUNTIDY", False),
    ("DELETIONEFFECTIVE", "DeletionDone"): ("DONE", False),
    # deletion DONEBUTUNTIDY retries only on the FORCED arc (job.go:568-572)
    ("DONEBUTUNTIDY", "RetryForced"): ("DELETIONEFFECTIVE", False),
    ("DELETIONFAILED", "Retried"): ("DELETIONINPROGRESS", False),
    ("DELETIONFAILED", "RetryForced"): ("DELETIONINPROGRESS", False),
    ("DELETIONFAILED", "CancelledByUser"): ("ABORTED", False),
    ("DELETIONFAILED", "CancelledByUserForced"): ("ABORTED", False),
    ("ABORTED", "RollbackFailed"): ("ROLLBACKFAILED", False),
    ("ABORTED", "RollbackDone"): ("FAILED", False),
    ("ROLLBACKFAILED", "RetryForced"): ("ABORTED", False),
    ("ROLLBACKFAILED", "Retried"): ("ABORTED", False),
    ("ROLLBACKFAILED", "CancelledByUserForced"): ("FAILED", False),
    # deletion INITIALISATIONFAILED: forced-cancel goes straight to FAILED
    # (no rollback needed — nothing locked yet), unlike consolidation
    ("INITIALISATIONFAILED", "Retried"): ("CREATED", False),
    ("INITIALISATIONFAILED", "RetryForced"): ("CREATED", False),
    ("INITIALISATIONFAILED", "CancelledByUserForced"): ("FAILED", False),
}

ARCS_BY_TYPE = {"consolidation": CONSOLIDATION_ARCS, "deletion": DELETION_ARCS}


def trigger(
    job_type: str, state: str, waiting: bool, exec_level: int, event: str
) -> tuple[str, bool, bool]:
    """Exact port of Job.Trigger (job.go:352-388) + changeState (job.go:643-648).

    Returns ``(new_state, new_waiting, handled)``.  Unhandled events leave the
    job untouched (the reference surfaces UnhandledEvent; replay ignores it).

    Order of precedence mirrors the Go code:
    1. ``Continue`` clears Waiting (handled only if the job was paused);
    2. ``RetryForced`` on a state flagged retry_forced is a handled no-op
       (requeues the step without a state change);
    3. otherwise the per-type arc table; CancelledByUser arcs marked
       waiting-only land only while paused.
    On a state change, ``Waiting = exec_level >= pause_level(new_state)``.
    """
    if event == "Continue":
        if waiting:
            return state, False, True
        return state, waiting, False
    info = JOB_STATE_INFO[state]
    if event == "RetryForced" and info[1]:
        return state, waiting, True
    arc = ARCS_BY_TYPE[job_type].get((state, event))
    if arc is None:
        return state, waiting, False
    nxt, only_when_waiting = arc
    if only_when_waiting and not waiting:
        return state, waiting, False
    return nxt, exec_level >= JOB_STATE_INFO[nxt][0], True


# legacy shorthand used by the client facade: "ok" = the happy-path progress
# event for the current state, "error"/"cancel" = the failure/cancel arc.
_HAPPY_EVENT = {
    "NEW": "JobCreated",
    "CREATED": "OrdersPrepared",
    "CONSOLIDATIONINPROGRESS": "ConsolidationDone",
    "CONSOLIDATIONDONE": "ConsolidationIndexed",
    "CONSOLIDATIONINDEXED": "DatasetsSwapped",
    "CONSOLIDATIONEFFECTIVE": "DeletionStarted",
    "CONSOLIDATIONRETRYING": "OrdersPrepared",
    "CONSOLIDATIONFORCERETRYING": "OrdersPrepared",
    "CONSOLIDATIONCANCELLING": "CancellationDone",
    "CONSOLIDATIONFAILED": "Retried",
    "DELETIONINPROGRESS": "RemovalDone",
    "DELETIONEFFECTIVE": "DeletionDone",
    "ABORTED": "RollbackDone",
}
_ERROR_EVENT = {
    "CONSOLIDATIONINPROGRESS": "Retried",
    "CREATED": "PrepareOrdersFailed",
    "CONSOLIDATIONDONE": "ConsolidationIndexingFailed",
    "CONSOLIDATIONINDEXED": "SwapDatasetsFailed",
    "CONSOLIDATIONEFFECTIVE": "StartDeletionFailed",
    "DELETIONINPROGRESS": "RemovalFailed",
    "DELETIONEFFECTIVE": "DeletionFailed",
}


def advance_job_state(
    state: str,
    event: str,
    job_type: str = "consolidation",
    exec_level: int = EXEC_ASYNCHRONOUS,
    waiting: bool = False,
    with_waiting: bool = False,
):
    """Single-step transition; accepts real event names (job.go JobStatus) or
    the legacy shorthand ``ok``/``error``/``cancel``.  Raises on an arc the
    reference would report as UnhandledEvent.  ``waiting`` gates the
    pause-only arcs (plain CancelledByUser, Continue — job.go:352-388);
    ``with_waiting=True`` returns ``(new_state, new_waiting)`` so callers
    can persist the pause flag alongside the state."""
    if event == "ok":
        event = _HAPPY_EVENT.get(state, "")
    elif event == "error":
        event = _ERROR_EVENT.get(state, "")
    elif event == "cancel":
        event = "CancelledByUserForced"
    nxt, new_waiting, handled = trigger(job_type, state, waiting, exec_level, event)
    if not handled:
        raise ValueError(f"illegal transition {state} --{event}-->")
    if with_waiting:
        return nxt, new_waiting
    return nxt


# ---------------------------------------------------------------------------
# Distributed event-log replay.  The machine above is compiled — from the
# same arc tables — into a pure-SQL fold usable by BOTH engines: Spark's
# `aggregate(events, init, (acc,x) -> CASE…)` higher-order function and
# DuckDB's `list_reduce`.  State is threaded through the fold as the string
# 'STATE#waiting#exec_level#type'; every generated token is shared SQL
# (split_part/||/CASE run identically in Spark SQL and DuckDB), so the
# oracle twin exercises the exact same transition table.  Replaying a 100 TB
# event log is then one hash-partitioned groupBy(job_id) + a codegen'd fold —
# no Python, no per-event shuffle, no window sort.

# every JobStatus event name (job.go JobStatus enum), progress events doubled
# so synthetic replays bias forward through the machine
REPLAY_EVENT_MIX: list[str] = [
    "JobCreated", "JobCreated", "OrdersPrepared", "OrdersPrepared",
    "ConsolidationDone", "ConsolidationDone", "ConsolidationIndexed",
    "ConsolidationIndexed", "DatasetsSwapped", "DatasetsSwapped",
    "DeletionStarted", "DeletionReady", "DeletionReady", "RemovalDone",
    "RemovalDone", "DeletionDone", "Continue", "Continue", "Retried",
    "RetryForced", "CancelledByUser", "CancelledByUserForced",
    "ConsolidationFailed", "SendOrdersFailed", "PrepareOrdersFailed",
    "ConsolidationIndexingFailed", "SwapDatasetsFailed", "StartDeletionFailed",
    "CancellationDone", "CancellationFailed", "RollbackDone", "RollbackFailed",
]

_S = "split_part(acc, '#', 1)"
_W = "split_part(acc, '#', 2)"
_L = "split_part(acc, '#', 3)"
_T = "split_part(acc, '#', 4)"


def _next_acc(nxt: str, type_code: str) -> str:
    lvl = JOB_STATE_INFO[nxt][0]
    return (
        f"'{nxt}#' || CASE WHEN CAST({_L} AS INT) >= {lvl} THEN '1' ELSE '0' END"
        f" || '#' || {_L} || '#{type_code}'"
    )


def replay_merge_sql() -> str:
    """The fold lambda body: CASE over (type, state, event) compiled from
    ARCS_BY_TYPE + JOB_STATE_INFO, mirroring trigger()'s precedence."""
    noop_states = ", ".join(
        f"'{s}'" for s, (_lvl, rf) in sorted(JOB_STATE_INFO.items()) if rf
    )
    whens = [
        f"WHEN x = 'Continue' THEN CASE WHEN {_W} = '1' THEN"
        f" {_S} || '#0#' || {_L} || '#' || {_T} ELSE acc END",
        f"WHEN x = 'RetryForced' AND {_S} IN ({noop_states}) THEN acc",
    ]
    for jt, arcs in (("C", CONSOLIDATION_ARCS), ("D", DELETION_ARCS)):
        for (state, event), (nxt, only_waiting) in arcs.items():
            guard = f" AND {_W} = '1'" if only_waiting else ""
            whens.append(
                f"WHEN {_T} = '{jt}' AND x = '{event}' AND {_S} = '{state}'"
                f"{guard} THEN {_next_acc(nxt, jt)}"
            )
    return "CASE " + " ".join(whens) + " ELSE acc END"


def replay_init_sql(exec_level_sql: str, type_sql: str) -> str:
    """Initial accumulator: jobs are born NEW with the step-by-step pause
    already applied (NEW pauses at STEP_ALL)."""
    lvl = JOB_STATE_INFO["NEW"][0]
    return (
        f"'NEW#' || CASE WHEN {exec_level_sql} >= {lvl} THEN '1' ELSE '0' END"
        f" || '#' || CAST({exec_level_sql} AS INT) || '#' || {type_sql}"
    )


# --- Spark-side integer-coded variant ------------------------------------
# Semantically identical to the string fold above (same arc tables, same
# precedence), but built for Spark's `aggregate`, whose accumulator type —
# unlike DuckDB's list_reduce — may differ from the element type:
#   * states and events are dense integer codes, so every branch test is an
#     int compare instead of a UTF8String equals;
#   * the accumulator is struct<s,w,l,t int> — field access, no split_part
#     re-parse (the string fold costs ~100 splits per event: ≈45 branches ×
#     up to 4 split_parts each);
#   * the outer dispatch is `CASE x WHEN <eid> ...` (CaseKeyWhen): the key
#     is evaluated once and compared down ~20 ints, then an inner CASE with
#     only that event's 2-4 arcs runs — versus ~45 compound conditions.
# The oracle keeps the portable string fold; parity between the two is
# pinned by the driver's value-hash compare and the job-machine tests.

STATE_NAMES: list[str] = sorted(JOB_STATE_INFO)
STATE_ID: dict[str, int] = {s: i for i, s in enumerate(STATE_NAMES)}
EVENT_NAMES: list[str] = sorted(
    {e for arcs in (CONSOLIDATION_ARCS, DELETION_ARCS) for (_s, e) in arcs}
    | set(REPLAY_EVENT_MIX)
)
EVENT_ID: dict[str, int] = {e: i for i, e in enumerate(EVENT_NAMES)}


def replay_event_int_sql(event_id_sql: str) -> str:
    """Same LCG synthesis as replay_event_sql, but emits the integer event
    code via a constant-folded array literal instead of a 32-way CASE."""
    mix = f"(({event_id_sql}) * 1103515245 + 12345) % 2147483648"
    idx = f"CAST(FLOOR(({mix}) / 65536.0) AS INT) % {len(REPLAY_EVENT_MIX)}"
    codes = ", ".join(str(EVENT_ID[name]) for name in REPLAY_EVENT_MIX)
    return f"element_at(array({codes}), ({idx}) + 1)"


def replay_merge_int_sql() -> str:
    """Fold lambda body over acc: struct<s int, w int, l int, t int>
    (t: 0 = consolidation, 1 = deletion)."""
    def nxt_struct(nxt: str) -> str:
        lvl = JOB_STATE_INFO[nxt][0]
        return (
            f"named_struct('s', {STATE_ID[nxt]},"
            f" 'w', IF(acc.l >= {lvl}, 1, 0), 'l', acc.l, 't', acc.t)"
        )

    # group arcs by event: outer CaseKeyWhen on x, inner CASE on (t, s)
    by_event: dict[str, list[str]] = {}
    for t_code, arcs in ((0, CONSOLIDATION_ARCS), (1, DELETION_ARCS)):
        for (state, event), (nxt, only_waiting) in arcs.items():
            guard = " AND acc.w = 1" if only_waiting else ""
            by_event.setdefault(event, []).append(
                f"WHEN acc.t = {t_code} AND acc.s = {STATE_ID[state]}{guard}"
                f" THEN {nxt_struct(nxt)}"
            )

    noop_ids = ", ".join(
        str(STATE_ID[s]) for s, (_lvl, rf) in sorted(JOB_STATE_INFO.items()) if rf
    )
    whens = [
        f"WHEN {EVENT_ID['Continue']} THEN IF(acc.w = 1,"
        " named_struct('s', acc.s, 'w', 0, 'l', acc.l, 't', acc.t), acc)"
    ]
    for event in sorted(by_event, key=lambda e: EVENT_ID[e]):
        if event == "Continue":
            continue  # Continue has no arcs; handled above
        inner = " ".join(by_event[event])
        if event == "RetryForced":
            # precedence 2: RetryForced on a retry_forced state is a no-op
            inner = f"WHEN acc.s IN ({noop_ids}) THEN acc " + inner
        whens.append(f"WHEN {EVENT_ID[event]} THEN CASE {inner} ELSE acc END")
    return "CASE x " + " ".join(whens) + " ELSE acc END"


def replay_init_int_sql(exec_level_sql: str, type_code_sql: str) -> str:
    """type_code_sql: 0 = consolidation, 1 = deletion."""
    lvl = JOB_STATE_INFO["NEW"][0]
    return (
        f"named_struct('s', {STATE_ID['NEW']},"
        f" 'w', IF({exec_level_sql} >= {lvl}, 1, 0),"
        f" 'l', CAST({exec_level_sql} AS INT), 't', CAST({type_code_sql} AS INT))"
    )


def replay_state_name_sql(state_id_sql: str) -> str:
    names = ", ".join(f"'{s}'" for s in STATE_NAMES)
    return f"element_at(array({names}), ({state_id_sql}) + 1)"


def replay_event_sql(event_id_sql: str) -> str:
    """Deterministic, engine-portable event synthesis: high bits of an LCG
    over event_id index REPLAY_EVENT_MIX.  High bits (not low) because both
    job_id and the LCG modulus are powers of two — low bits would collapse
    to a per-job constant."""
    mix = f"(({event_id_sql}) * 1103515245 + 12345) % 2147483648"
    idx = f"CAST(FLOOR(({mix}) / 65536.0) AS INT) % {len(REPLAY_EVENT_MIX)}"
    whens = " ".join(
        f"WHEN {i} THEN '{name}'" for i, name in enumerate(REPLAY_EVENT_MIX)
    )
    return f"CASE {idx} {whens} END"


def task_counters(tasks: DataFrame) -> DataFrame:
    """A10: per-job task-state counters via pivot (job.go:772-800)."""
    return (
        tasks.groupBy("job_id")
        .pivot("state", ["NEW", "PENDING", "DONE", "FAILED", "CANCELLED"])
        .count()
        .na.fill(0)
    )


def stream_events_windowed(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Structured Streaming windowed aggregation over the events table:
    event-time tumbling windows with late-data watermarking.  readStream over
    a parquet directory, so the same query runs against a live landing zone.
    """
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    # watermarks require TIMESTAMP (tz-aware); parquet NTZ columns are cast
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


def run_task_queue_stream(
    spark: SparkSession,
    tasks_path: str,
    handler: Callable[[DataFrame, int], None],
    checkpoint: str,
):
    """The queue loop: stream new task rows, apply handler per micro-batch.
    Idempotent handlers + checkpointing reproduce the reference's retry
    semantics (main.go:131-147) without a broker."""
    schema = spark.read.parquet(tasks_path).schema
    stream = spark.readStream.schema(schema).parquet(tasks_path)
    return (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_task_queue_with_retry(
    spark: SparkSession,
    tasks_path: str,
    per_task: Callable,
    checkpoint: str,
    max_tries: int = 1,
    dead_letter_path: str | None = None,
):
    """The temporary-error requeue arc of the queue consumer
    (cmd/consolidater/main.go:131-147) as an explicit
    dead-letter-after-N policy over the micro-batch stream.

    Per delivered task row: one already redelivered more than
    ``max_tries`` times is DEAD-LETTERED without running ("too many
    tries", main.go:131-137); ``per_task`` raising with tries left
    REQUEUES the row — appended back to the landing zone with
    ``try_count`` + 1, exactly the broker's redelivery (main.go:144-147);
    raising with tries exhausted dead-letters it with the error.  The
    ``availableNow`` trigger only sees files present at start, so each
    invocation is one delivery round — re-invoke with the same checkpoint
    until a round requeues nothing (the test loop and a production cron
    share this shape).  Task rows are queue MESSAGES (one per output
    container), so the driver-side loop is the reference consumer's own
    cardinality, not a data-sized collect.

    :func:`drain_task_queue_batch` is the batch twin; the stream==batch
    convergence test holds the two to identical outcomes."""
    schema = spark.read.parquet(tasks_path).schema

    def _handler(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()
        requeue: list[dict] = []
        dead: list[dict] = []
        for r in rows:
            d = r.asDict()
            tc = int(d.get("try_count") or 0)
            if tc > max_tries:
                dead.append({**d, "error": "too many tries"})
                continue
            try:
                per_task(r)
            except Exception as exc:
                if tc < max_tries:
                    requeue.append({**d, "try_count": tc + 1})
                else:
                    dead.append(
                        {**d, "error": f"{type(exc).__name__}: {exc}"}
                    )
        if requeue:
            spark.createDataFrame(requeue, schema).write.mode("append").parquet(
                tasks_path
            )
        if dead and dead_letter_path:
            from pyspark.sql.types import StringType, StructField, StructType

            dl_schema = StructType(
                list(schema.fields) + [StructField("error", StringType(), True)]
            )
            spark.createDataFrame(dead, dl_schema).write.mode("append").parquet(
                dead_letter_path
            )

    stream = spark.readStream.schema(schema).parquet(tasks_path)
    return (
        stream.writeStream.foreachBatch(_handler)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def drain_task_queue_batch(
    rows: list, per_task: Callable, max_tries: int = 1
) -> tuple[list, list]:
    """Batch twin of :func:`run_task_queue_with_retry`: apply the same
    redelivery policy with in-memory requeues until the queue drains.
    Returns ``(succeeded, dead)`` where ``dead`` rows carry ``error``."""
    pending = [dict(r.asDict() if hasattr(r, "asDict") else r) for r in rows]
    done: list[dict] = []
    dead: list[dict] = []
    while pending:
        nxt: list[dict] = []
        for d in pending:
            tc = int(d.get("try_count") or 0)
            if tc > max_tries:
                dead.append({**d, "error": "too many tries"})
                continue
            try:
                per_task(d)
                done.append(d)
            except Exception as exc:
                if tc < max_tries:
                    nxt.append({**d, "try_count": tc + 1})
                else:
                    dead.append({**d, "error": f"{type(exc).__name__}: {exc}"})
        pending = nxt
    return done, dead


def trending_topk_batch(
    events: DataFrame, window: str = "1 hour", k: int = 3
) -> DataFrame:
    """Batch twin of the trending-terms stream: per tumbling window, the
    top-``k`` event types by count (ties broken by type name)."""
    from pyspark.sql import Window

    counts = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("win").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "rank",
        )
    )


def run_trending_stream(
    spark: SparkSession,
    events_path: str,
    counts_dir: str,
    checkpoint: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Streaming trending: windowed counts in UPDATE mode, merged by key
    into a commit-log table per micro-batch.

    Update-mode rows carry the LATEST cumulative count for each touched
    (window, event_type) group, so the merge is replace-by-key — naturally
    idempotent under foreachBatch's at-least-once replay (replaying a
    batch rewrites the same keys with the same values).  The top-k rank is
    computed ON READ over the merged counts (:func:`trending_topk_from`),
    so late data reorders a window's ranking correctly instead of
    freezing a stale one.  State in the agg is bounded by the watermark;
    the merged table is bounded by (windows x types).
    """
    from geocube_spark.sources.catalog import Catalog

    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    counts = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n_events"
        )
    )
    cat = Catalog(spark, counts_dir)

    def merge(batch: DataFrame, batch_id: int) -> None:
        batch = session.checkpoint(batch)
        if cat.exists("trending_counts"):
            cur = cat.read("trending_counts")
            keep = cur.join(
                batch.select("window_start", "event_type"),
                ["window_start", "event_type"],
                "left_anti",
            )
            merged = keep.unionByName(batch)
        else:
            merged = batch
        cat.write("trending_counts", merged.coalesce(1))

    return (
        counts.writeStream.foreachBatch(merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def trending_topk_from(spark: SparkSession, counts_dir: str, k: int = 3) -> DataFrame:
    """Rank the stream-merged counts table: the read-side of the trending
    pipeline (same output schema as :func:`trending_topk_batch`)."""
    from pyspark.sql import Window

    from geocube_spark.sources.catalog import Catalog

    counts = Catalog(spark, counts_dir).read("trending_counts")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("window_start", "event_type", "n_events", "rank")
    )
