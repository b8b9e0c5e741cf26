"""K4 outbound message send, modeled as the full send-with-sync-barrier
lifecycle of the reference (src/signal/send.rs:22-93):

1. **drain** — receive_messages() consumed until ``QueueEmpty``
   (send.rs:47-61), which is exactly a ``Trigger.AvailableNow`` streaming
   drain (streaming/ingest.py); the act NEVER precedes the drain;
2. **dispatch** — the timestamp-stamped DataMessage goes to the contact or
   group endpoint (send.rs:65-80); here a ``foreachBatch`` sink whose
   transport is an injectable seam (the HttpEmbedder pattern,
   operators/embed.py: a callable ``payload-dict -> response-dict``) so
   pytest runs the whole path short of the socket;
3. **bounded sync-await** — wait up to 60 s for the Contacts sync marker,
   erroring on timeout (send.rs:82-90 wraps the wait in
   ``tokio::time::timeout(Duration::from_secs(60), ...)`` and propagates
   the elapsed error).

Dispatch happens driver-side per batch, deliberately: the reference's
``Manager<S, Registered>`` is ONE stateful registered-device connection —
fan-out of the send across executors would be unfaithful (and the Signal
protocol forbids it).  Outbound traffic is control-plane (messages a user
sends), not data-plane; the 100 TB analytics never flow through here.
Payload construction still runs as JVM expressions so the collected batch
is already-rendered JSON strings, not Rows.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONTACT_ENDPOINT = "contact"  # send_message(ServiceId::Aci(uuid), ..)
GROUP_ENDPOINT = "group"  # send_message_to_group(&master_key, ..)
SYNC_MARKER = "contacts"  # Received::Contacts (send.rs:84-88)
SYNC_AWAIT_S = 60  # send.rs:82 Duration::from_secs(60)


class DispatchError(RuntimeError):
    pass


@dataclass
class MessageDispatcher:
    """Transport-seamed sender with the repo-standard bounded retry loop.

    ``transport(payload) -> response`` is the only effectful edge; the
    default refuses to run (no Signal service exists in this container),
    which keeps the operator honest — tests and callers must inject one.
    """

    transport: object = None
    max_retries: int = 3
    backoff_s: float = 0.5
    sleep: object = time.sleep
    sent: list = field(default_factory=list)

    def dispatch(self, payload: dict) -> dict:
        if self.transport is None:
            raise DispatchError(
                "no transport injected: outbound send needs a live Signal "
                "session (reference Manager<S, Registered>); inject a "
                "callable payload->response"
            )
        last = None
        for attempt in range(self.max_retries):
            try:
                resp = self.transport(payload)
                self.sent.append(payload)
                return resp
            except Exception as e:  # noqa: BLE001 — retry any transport fault
                last = e
                if attempt < self.max_retries - 1:
                    self.sleep(self.backoff_s * (2**attempt))
        raise DispatchError(f"send failed after {self.max_retries} attempts: {last}")


def render_payloads(outbound: DataFrame, timestamp_ms: int) -> DataFrame:
    """JVM-side payload render: endpoint arm (group key present => group,
    else contact — send.rs:65-80) + the per-send()-call timestamp the
    reference stamps on the DataMessage (send.rs:29-37: ONE now-millis for
    the whole call).  Returns a one-column frame of JSON strings."""
    endpoint = F.when(
        F.col("group_key").isNotNull(), F.lit(GROUP_ENDPOINT)
    ).otherwise(F.lit(CONTACT_ENDPOINT))
    recipient = F.coalesce(F.col("group_key"), F.col("recipient_uuid"))
    return outbound.select(
        F.to_json(
            F.struct(
                endpoint.alias("endpoint"),
                recipient.alias("recipient"),
                F.col("body").alias("body"),
                F.lit(timestamp_ms).alias("timestamp"),
            )
        ).alias("payload")
    )


def foreach_batch_dispatch(dispatcher: MessageDispatcher, timestamp_ms: int):
    """``foreachBatch`` body: render JVM-side, dispatch driver-side (see
    module docstring for why fan-out would be unfaithful here)."""

    def _dispatch(batch: DataFrame, batch_id: int) -> None:
        for row in render_payloads(batch, timestamp_ms).collect():
            dispatcher.dispatch(json.loads(row["payload"]))

    return _dispatch


def await_sync(probe, timeout_s: float = SYNC_AWAIT_S, sleep=time.sleep,
               clock=time.monotonic, poll_s: float = 0.05) -> None:
    """The 60 s sync barrier: poll ``probe()`` for the Contacts marker,
    ignoring other traffic (send.rs:84-88 loops past non-Contacts
    messages), and raise on deadline exactly as ``tokio::time::timeout``'s
    elapsed error propagates through ``send()``'s ``?``."""
    deadline = clock() + timeout_s
    while clock() < deadline:
        if probe() == SYNC_MARKER:
            return
        sleep(poll_s)
    raise TimeoutError(f"no contacts sync within {timeout_s}s")


def send_with_sync_barrier(
    spark: SparkSession,
    sf_dir: str,
    outbound: DataFrame,
    dispatcher: MessageDispatcher,
    sync_probe,
    timestamp_ms: int | None = None,
    drain=None,
    sync_timeout_s: float = SYNC_AWAIT_S,
    sleep=time.sleep,
    clock=time.monotonic,
) -> dict:
    """The full reference send() lifecycle, strictly ordered:
    drain-until-QueueEmpty, THEN dispatch, THEN bounded sync-await.

    ``drain`` defaults to the S2 AvailableNow ingest drain over the
    events stream; tests inject probes to assert the ordering contract.
    Returns a small summary dict (drained rows, sent count)."""
    from ..streaming.ingest import dedup_ingest_availablenow

    if timestamp_ms is None:
        timestamp_ms = int(time.time() * 1000)

    # 1. drain: synchronize messages since last time (send.rs:45-61)
    drained = (drain or dedup_ingest_availablenow)(spark, sf_dir)
    n_drained = drained.count()  # materialized => drain completed

    # 2. dispatch: stream the outbound rows through a foreachBatch sink
    # (one-shot AvailableNow over the staged batch) so the send is the
    # same drain-then-act sink shape the reference runs
    import uuid as _uuid

    from ..io.materialize import temp_dir

    stage = temp_dir("smvd-outbound-") + "/batch"
    outbound.write.mode("overwrite").parquet(stage)
    from ..streaming.ingest import await_drained, streaming_session

    s = streaming_session(spark)
    stream = s.readStream.schema(outbound.schema).parquet(stage)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_dispatch(dispatcher, timestamp_ms)
        )
        .option("checkpointLocation", temp_dir("smvd-ckpt-send-"))
        .queryName(f"send_{_uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)

    # 3. bounded sync-await (send.rs:82-90)
    await_sync(sync_probe, timeout_s=sync_timeout_s, sleep=sleep, clock=clock)
    return {"drained": n_drained, "sent": len(dispatcher.sent)}
