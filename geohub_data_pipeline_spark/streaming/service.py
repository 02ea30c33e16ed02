"""The ingest service loop as Structured Streaming (EP1 analog).

Reference behavior being reproduced (SURVEY.md §2.4, §3 EP1; all ref
cites into /root/reference/):

* queue poll, <=1 message in flight, exit when drained
  (ingest/ingest.py:41-58)            -> the spool-queue stream source
  (sources/queue_source.py), one ``trigger(availableNow=True)`` start
  per receive, stopping on an empty receive (X1/X2), which the driver
  reads from the spool listing without starting a query
* message parse "url;token;join=bool" (ingest/ingest.py:62-66) -> S2
  projection; parse failure dead-letters (ingest/ingest.py:197-207)
  -> quarantine rows (X7/K11)
* '/raw/' filter: everything else completes untouched
  (ingest/ingest.py:76,190-195)       -> T4 route
* '.pmtiles' passthrough copy (ingest/ingest.py:246-247) -> T5 route
* sidecar state blobs + metadata stage/progress
  (ingest/azblob.py:114-147,216-235)  -> ONE run-ledger table
  (dataset, kind, stage, progress, content, ts)
* progress model: 30 after download, then per-chunk to 100
  (ingest/utils.py:79-123)            -> T15 window over chunks
* external cancel {user,url,cancel:true} (ingest/utils.py:126-131)
  -> cancel lookup -> 'Cancelled' ledger row (X5/X6)
* at-least-once + ack = checkpoint commit (K10); the ledger write is
  idempotent per (msg batch, dataset, kind, stage).

Scale: ``foreachBatch`` bodies are pure DataFrame programs — each
micro-batch distributes like any batch job; per-upload heavy work
(probe/convert/tile) runs as the batch's job DAG, not driver loops.
The run ledger is an append-only parquet table partitioned by kind.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geohub_data_pipeline_spark.functions import paths as P

MESSAGE_SCHEMA = T.StructType([
    T.StructField("msg_id", T.LongType()),
    T.StructField("body", T.StringType()),       # "url;token;join_vector_tiles=bool"
    T.StructField("enqueued_ts", T.StringType()),
])

CANCEL_SCHEMA = T.StructType([
    T.StructField("user", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("cancel", T.BooleanType()),
])

LEDGER_COLUMNS = ["dataset", "kind", "stage", "progress", "content", "ts"]


def parse_messages(df: DataFrame) -> DataFrame:
    """S2: split the 3-field body; malformed rows flagged (not dropped)."""
    parts = F.split(F.col("body"), ";")
    return df.select(
        "msg_id",
        "body",
        F.when(F.size(parts) == 3, parts.getItem(0)).alias("blob_url"),
        F.when(F.size(parts) == 3, parts.getItem(1)).alias("token"),
        F.when(F.size(parts) == 3,
               parts.getItem(2) == "join_vector_tiles=true")
        .alias("join_vector_tiles"),
        (F.size(parts) != 3).alias("malformed"),
    )


# the reference's raster allowlist (ref ingest/config.py
# ALLOWED_GDAL_FORMATS + the Erdas Imagine Raw pair) — anything else
# under /raw/ is vector-pathed, as in the reference dispatch.
# IDENTICAL to the batch dispatch tree (the same tuple object) so a
# service message and a CLI run route any file the same way —
# .img included since round 6 (sources/hfa.py HFA reader).
from geohub_data_pipeline_spark.processing import (  # noqa: E402
    RASTER_EXTS,
)


def route_messages(parsed: DataFrame) -> DataFrame:
    """T4/T5/T12: attach the dispatch route per message."""
    ext = P.file_ext(F.col("blob_url"))
    return parsed.select(
        "*",
        F.when(F.col("malformed"), "dead_letter")
        .when(~P.is_raw(F.col("blob_url")), "complete_untouched")
        .when(ext == ".pmtiles", "passthrough")
        .when(ext.isin(*RASTER_EXTS), "raster")
        .otherwise("vector").alias("route"),
    )


class CancelledIngest(Exception):
    """External cancel request arrived mid-conversion (X5/X6)."""


def _chop_url(url: str) -> str:
    """Python-side ``chop_blob_url`` (ref ingest/utils.py:15-20):
    scheme+host stripped, container-relative path kept.  ``file://``
    URLs (the local stand-in for blob storage) keep their path,
    relativized so the raw->datasets rewrite lands under the
    service's output root."""
    import re

    if url.startswith("file://"):
        return url[len("file://"):].lstrip("/")
    return re.sub(r"^[a-z][a-z0-9+.-]*://[^/]+/", "", url)


@dataclass
class IngestService:
    """Checkpointed streaming ingest service.

    ``run_available_now`` drains the queue and exits — the reference's
    'empty receive ends the loop' semantics (X1).  The default source
    is the ``ingest_queue`` data source in spool mode over
    ``messages_dir`` with ``rate=1`` — real offset-based exactly-once
    delivery with the reference's one-message-in-flight backpressure
    (ref ingest/ingest.py:41-58).

    By default each work message runs the REAL pipeline —
    ``processing.process_geo_file``: probe -> normalize -> .fgb ->
    tiles -> PMTiles for vectors, blocks -> warp -> COG for rasters
    (the same stages the CLI chains; ref ingest/processing.py:555-826
    called from ingest/ingest.py:210-270) — writing artifacts under
    ``output_dir`` with the raw->datasets path rewrite, and the
    progress chunks come from the real probe
    (``layers + bands + subdatasets``, ref ingest/utils.py:87-123).
    ``simulate=True`` keeps the routing/ledger machinery but skips
    the download check, the passthrough copy and the conversions,
    each of which becomes ``n_chunks`` placeholder chunks (routing
    tests, dry runs, demo messages whose blobs don't exist).

    At-least-once + idempotent (X7/K10): a retried batch re-runs its
    conversions, but artifact writes overwrite deterministic paths
    and the ledger write dynamic-partition-overwrites only the
    retried batch_id — the reference has the same posture (re-
    delivered queue message re-uploads the same blobs,
    ref ingest/ingest.py:159,184-187).

    ``source``: optional streaming DataFrame with MESSAGE_SCHEMA
    columns, replacing the spool-queue default — e.g. a Kafka topic
    projected to (msg_id, body, enqueued_ts).
    """

    spark: SparkSession
    messages_dir: str
    ledger_dir: str
    checkpoint_dir: str
    cancel_dir: str | None = None
    n_chunks: int = 4                  # simulate-mode chunk count only
    source: DataFrame | None = None
    output_dir: str | None = None      # default: <ledger sibling>/datasets
    simulate: bool = False
    # X4 hard per-message timeout (ref INGEST_TIMEOUT=3600,
    # ingest/ingest.py:35,126-152): a conversion exceeding this gets
    # its Spark job group cancelled, a timeout error row (the
    # ``.timeout`` marker analog), and a 'Cancelled' stage row.
    ingest_timeout: float = 3600.0
    # X2 relaxed (r8 verdict next #7): the reference receives ONE
    # message at a time because a single asyncio process bounds its
    # own RAM (ref ingest/ingest.py:225-233, receive batch size 1);
    # a Spark cluster has no such constraint — conversions are
    # distributed jobs, and the driver can keep N of them in flight
    # (each in its own cancellable job group, watchdog + cancel
    # preserved per message).  1 keeps the reference's semantics;
    # ledger output is deterministic in QUEUE order either way.
    max_concurrent_messages: int = 1
    # RocksDB state store by default: the service is the long-running
    # entry point, and at the 100 TB regime its stateful stages (dedup,
    # watchdog, windows) must hold state off-heap, sized by unique
    # keys not stream length (streaming/stateful.py docstring).  A
    # restarted query keeps its checkpointed provider choice.
    use_rocksdb_state: bool = True

    def _out_dir(self) -> str:
        import os

        if self.output_dir:
            return self.output_dir
        return os.path.join(
            os.path.dirname(self.ledger_dir.rstrip("/")), "datasets")

    def _message_rows(self, m, cancelled: set[str]) -> list[tuple]:
        """Route + (maybe) convert ONE message; returns its ledger
        rows (dataset, kind, stage, progress, content) in emit order.
        Thread-safe: everything per-message, and the conversion runs
        under its own cancellable job group."""
        import os
        import shutil

        from geohub_data_pipeline_spark import processing as PROC

        rows: list[tuple] = []

        def add(dataset, kind, stage, progress, content=None):
            rows.append((dataset, kind, stage, progress, content))

        dataset = _chop_url(m.blob_url) if m.blob_url \
            else f"msg_{m.msg_id}"
        if m.route == "dead_letter":
            add(dataset, "error", None, None,
                f"dead-letter: unparseable message: {m.body}")
            return rows
        if m.route == "complete_untouched":
            add(dataset, "progress", "completed_untouched", 100)
            return rows
        if m.blob_url in cancelled:
            add(dataset, "progress", "Cancelled", 100)
            return rows
        src = None
        if not self.simulate:
            src = PROC.resolve_local_path(m.blob_url)
            if src is None:
                # download failure dead-letters (ref ingest.py:184-187)
                add(dataset, "error", None, None,
                    f"download failed: {m.blob_url}")
                return rows
        # raw -> datasets rewrite names the output location.
        # The blob_url is queue-controlled input: normalize and
        # reject any path that escapes the output root ('..'
        # segments survive _chop_url otherwise — a message like
        # https://host/c/../../x would write outside output_dir).
        dst_rel = os.path.normpath(
            dataset.replace("/raw/", "/datasets/")).lstrip("/")
        out_root = os.path.realpath(self._out_dir())
        if (dst_rel.startswith("..") or os.path.commonpath(
                [out_root, os.path.realpath(
                    os.path.join(out_root, dst_rel))]) != out_root):
            add(dataset, "error", None, None,
                f"rejected: output path escapes dataset root: "
                f"{m.blob_url}")
            return rows
        if m.route == "passthrough":
            dst = None
            if not self.simulate:
                # K9 server-side copy, for real
                dst = os.path.join(self._out_dir(), dst_rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(src, dst)
            add(dataset, "progress", "copied", 100, dst)
            return rows
        add(dataset, "progress", "downloading", 0)
        add(dataset, "progress", "downloaded", 30)
        stem = dst_rel.rsplit("/", 1)[-1].rsplit(".", 1)[0]
        dst_dir = os.path.join(
            self._out_dir(), os.path.dirname(dst_rel), stem)
        try:
            res = self._dry_run() if self.simulate else \
                self._convert_with_timeout(
                    src, dst_dir, bool(m.join_vector_tiles), dataset,
                    blob_url=m.blob_url, msg_id=m.msg_id)
        except TimeoutError:
            # .timeout marker + Cancelled stage + metadata, as
            # the reference's asyncio.wait timeout branch
            # (ref ingest/ingest.py:131-152)
            add(dataset, "error", None, None,
                f"timeout: conversion exceeded "
                f"{self.ingest_timeout:.0f}s")
            add(dataset, "progress", "Cancelled", 100)
            return rows
        except CancelledIngest:
            # mid-conversion external cancel (X5/X6): same error
            # + Cancelled trail the reference emits
            # (ref ingest/ingest.py:131-152, utils.py:126-131)
            add(dataset, "error", None, None,
                "cancelled by user request during processing")
            add(dataset, "progress", "Cancelled", 100)
            return rows
        except Exception as exc:       # .error blob + dead-letter
            add(dataset, "error", None, None,
                f"ingest error: {type(exc).__name__}: {exc}")
            return rows
        n = max(len(res["chunks"]), 1)
        # ref compute_progress: offset 30, per-chunk to 100
        # (ingest/utils.py:79-84)
        for i, ch in enumerate(res["chunks"], 1):
            add(dataset, "progress",
                f"processing {ch['kind']} {ch['name']}",
                30 + (70 * i) // n)
        for a in res["artifacts"]:
            add(dataset, "artifact", None, None, a)
        add(dataset, "progress", "processed", 100,
            None if self.simulate
            else json.dumps(res["audits"], sort_keys=True))
        return rows

    def _dry_run(self) -> dict:
        """Simulate mode's conversion: ``n_chunks`` placeholder
        chunks, no artifacts, no audits."""
        return {"chunks": [{"kind": "chunk", "name": i}
                           for i in range(1, self.n_chunks + 1)],
                "artifacts": [], "audits": None}

    def _batch_ledger(self, routed: DataFrame) -> DataFrame:
        """T13: per work message, run probe -> convert -> write
        through ``processing.process_geo_file`` and derive the ledger
        rows from the actual probe (in simulate mode, from
        ``n_chunks`` placeholder chunks).  The micro-batch is read
        once, by one collect.  The driver loop is over MESSAGES
        (bounded by the queue's rate); each conversion is a
        distributed Spark job.  ``max_concurrent_messages`` > 1 keeps
        that many conversions in flight at once (thread-per-message
        drivers over distributed jobs; Spark's scheduler interleaves
        their stages) — the ledger still comes out in queue order
        because the fan-out is an order-preserving map."""
        cancelled = self._cancelled_urls()
        msgs = routed.select("msg_id", "body", "blob_url", "route",
                             "join_vector_tiles").collect()
        n_conc = max(1, int(self.max_concurrent_messages))
        if n_conc == 1 or len(msgs) <= 1:
            per_msg = [self._message_rows(m, cancelled) for m in msgs]
        else:
            import concurrent.futures

            with concurrent.futures.ThreadPoolExecutor(n_conc) as pool:
                per_msg = list(pool.map(
                    lambda m: self._message_rows(m, cancelled), msgs))
        rows = [r for msg_rows in per_msg for r in msg_rows]

        schema = T.StructType([
            T.StructField("dataset", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("stage", T.StringType()),
            T.StructField("progress", T.IntegerType()),
            T.StructField("content", T.StringType()),
        ])
        return (self.spark.createDataFrame(rows, schema)
                .withColumn("ts", F.current_timestamp()))

    def _cancelled_urls(self) -> set[str]:
        if self.cancel_dir is None:
            return set()
        try:
            cancels = self.spark.read.schema(CANCEL_SCHEMA).json(
                self.cancel_dir)
            return {r.url for r in cancels.filter(F.col("cancel"))
                    .select("url").collect()}
        except Exception:
            return set()

    def _convert_with_timeout(self, src: str, dst_dir: str,
                              join_tiles: bool, dataset: str,
                              blob_url: str | None = None,
                              poll_secs: float = 2.0,
                              msg_id=None):
        """Run one message's conversion under the X4/X5/X6 watchdog:
        the work executes in a helper thread whose Spark jobs share a
        cancellable job group (``interruptOnCancel``); the waiter
        polls the cancel stream between short waits, so BOTH the hard
        timeout and an external mid-conversion cancel kill the
        running stages instead of leaking executors — the Spark form
        of the reference's cooperative-cancel callbacks threaded
        through GDAL/tippecanoe (ref ingest/processing.py:446-466,
        cancel predicate ingest/utils.py:126-131)."""
        import concurrent.futures
        import time

        from geohub_data_pipeline_spark import processing as PROC

        sc = self.spark.sparkContext
        # msg_id disambiguates the cancellable group when
        # max_concurrent_messages > 1 runs two messages for the SAME
        # dataset path at once — cancelling one must not kill the
        # other's stages.
        group = (f"ingest:{dataset}" if msg_id is None
                 else f"ingest:{dataset}#{msg_id}")

        def run():
            # job-group properties are thread-local, so only THIS
            # message's jobs join the cancellable group
            sc.setJobGroup(group, f"ingest {dataset}",
                           interruptOnCancel=True)
            try:
                return PROC.process_geo_file(
                    self.spark, src, dst_dir,
                    join_vector_tiles=join_tiles)
            finally:
                sc.setJobGroup("", "")

        pool = concurrent.futures.ThreadPoolExecutor(1)
        fut = pool.submit(run)
        deadline = time.time() + self.ingest_timeout
        check_cancels = self.cancel_dir is not None and blob_url
        try:
            while True:
                remaining = deadline - time.time()
                if remaining <= 0:
                    sc.cancelJobGroup(group)
                    # don't block on the dying thread: the group
                    # cancel unwinds it; the next message proceeds
                    pool.shutdown(wait=False)
                    raise TimeoutError
                try:
                    res = fut.result(
                        timeout=min(poll_secs, remaining)
                        if check_cancels else remaining)
                    pool.shutdown(wait=True)
                    return res
                except concurrent.futures.TimeoutError:
                    if check_cancels and \
                            blob_url in self._cancelled_urls():
                        sc.cancelJobGroup(group)
                        pool.shutdown(wait=False)
                        raise CancelledIngest from None
        except (TimeoutError, CancelledIngest):
            raise
        except BaseException:
            pool.shutdown(wait=False)
            raise

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        ledger = self._batch_ledger(
            route_messages(parse_messages(batch_df)))
        (
            # Idempotent under foreachBatch's at-least-once retries:
            # the write is partitioned by batch_id and dynamic
            # partition-overwrite replaces ONLY the retried batch's
            # partitions, so a re-delivered batch_id never double-
            # appends its ledger rows (other batches are untouched).
            ledger.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "kind")
            .parquet(self.ledger_dir)
        )

    def _start_once(self, src: DataFrame):
        q = (
            src
            .writeStream
            .foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    def run_available_now(self, queue_rate: int = 32,
                          max_rounds: int = 10_000) -> None:
        if self.use_rocksdb_state:
            from geohub_data_pipeline_spark.streaming.stateful import (
                enable_rocksdb_state,
            )
            enable_rocksdb_state(self.spark)
        if self.source is not None:
            self._start_once(self.source)
            return
        from geohub_data_pipeline_spark.sources.queue_source import (
            _spool_lines,
            spool_stream,
        )
        # A Python SimpleDataSourceStreamReader executes ONE micro-
        # batch per start under availableNow, so drain-then-exit is a
        # receive loop that stops on an empty receive — exactly the
        # reference's queue loop (ref ingest/ingest.py:50-58: poll,
        # process, exit when receive_messages returns nothing).  The
        # empty receive is read on the driver, from the same spool
        # listing the reader uses, instead of by starting one more
        # query (1.4-1.6 s a call on 4 cores): another round starts
        # only if the spool holds lines past this round's end offset.
        for _ in range(max_rounds):
            q = self._start_once(
                spool_stream(self.spark, self.messages_dir,
                             rate=queue_rate))
            progress = q.lastProgress
            if progress is None:
                return
            end = json.loads(progress.json)["sources"][0]["endOffset"]
            if end["next"] >= len(_spool_lines(self.messages_dir)):
                return

    def ledger(self) -> DataFrame:
        return self.spark.read.parquet(self.ledger_dir)
