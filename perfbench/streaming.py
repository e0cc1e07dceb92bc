"""``streaming``: closed-loop micro-batches over an Arrow IPC drop directory.

One producer drops the next event file into a flow's drop directory and
waits (``processAllAvailable``) until the stream has committed it; that
wait is one op. The flows run one at a time, each for the same number of
micro-batches: ``tumbling_counts`` (watermarked, update mode),
``attribution_join`` (stream-stream interval join, append mode) and
``running_user_totals`` (``applyInPandasWithState``, update mode). At the
end each flow's memory sink must equal its batch twin over the same files.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid

from perfbench.common import Workload, same_rows, table

SCHEMA = "event_id bigint, user_id bigint, event_type string, value double, ts_us bigint"
WARMUP_FILES = 2
BATCHES_PER_SECOND = 0.9  # timed micro-batches per flow per requested second
FLOWS = ("tumbling_counts", "attribution_join", "running_user_totals")


class Streaming(Workload):
    name = "streaming"

    def register(self) -> None:
        with_files = os.path.join(self.inp.root, "files")
        self.files = sorted(os.path.join(with_files, f) for f in os.listdir(with_files))
        self.rows_per_file = self.inp.params["rows_per_file"]
        self.P.register_arrow_ipc(self.spark)
        self.instances: list[dict] = []  # one per started query, checked at the end

    # -- flow definitions ---------------------------------------------------

    def _stream(self, drop: str):
        from pyspark.sql import functions as F

        with self.runner.span("sources.read_stream", "sources"):
            return (
                self.spark.readStream.format("arrowipc").schema(SCHEMA)
                .option("path", drop).load()
                .withColumn("ts", F.timestamp_micros("ts_us"))
            )

    def _batch(self, drop: str):
        from pyspark.sql import functions as F

        return self.P.read_arrow_ipc(self.spark, drop).withColumn(
            "ts", F.timestamp_micros("ts_us"))

    def _attribution_sides(self, ev, stream: bool):
        from pyspark.sql import functions as F

        def side(etype, tag):
            s = ev.filter(F.col("event_type") == etype).select(
                F.col("user_id").alias(f"{tag}_user"), F.col("event_id").alias(f"{tag}_event_id"),
                F.col("ts").alias(f"{tag}_ts"))
            return s.withWatermark(f"{tag}_ts", "2 hours") if stream else s
        return side("view", "v"), side("purchase", "p")

    def _flow_df(self, flow: str, drop: str):
        from pyarrow_ops_spark.streaming.joins import attribution_join

        P = self.P
        with self.runner.span(f"streaming.{flow}", "streaming"):
            if flow == "tumbling_counts":
                ev = self._stream(drop).withWatermark("ts", "2 hours")
                return P.tumbling_counts(ev, "1 hour"), "update"
            if flow == "attribution_join":
                # one source instance per side, as two independent readers would
                views, _ = self._attribution_sides(self._stream(drop), True)
                _, purchases = self._attribution_sides(self._stream(drop), True)
                return attribution_join(views, purchases, window="1 hour"), "append"
            return P.running_user_totals(self._stream(drop)), "update"

    def _twin(self, flow: str, drop: str):
        """The flow's batch twin, as (columns, rows), over every fed file."""
        from pyspark.sql import functions as F

        from pyarrow_ops_spark.streaming.joins import attribution_join

        ev = self._batch(drop)
        if flow == "tumbling_counts":
            df = self.P.tumbling_counts(ev, "1 hour")
        elif flow == "attribution_join":
            # separate reads per side: a self-join over one DataFrame resolves
            # the join condition against the wrong side and over-matches
            views, _ = self._attribution_sides(ev, False)
            _, purchases = self._attribution_sides(self._batch(drop), False)
            df = attribution_join(views, purchases, window="1 hour")
        else:
            df = ev.groupBy("user_id").agg(
                F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        return table(df.columns, df.collect())

    def _sink(self, flow: str, sink: str):
        """Final sink content: for update-mode flows, the latest row per key
        (counts only grow, so the latest is the one with the largest count)."""
        df = self.spark.table(sink)
        rows = df.collect()
        if flow == "attribution_join":
            return table(df.columns, rows)
        key = (lambda r: (r["window_start"], r["event_type"])) if flow == "tumbling_counts" \
            else (lambda r: r["user_id"])
        latest: dict = {}
        for r in rows:
            k = key(r)
            if k not in latest or r["n_events"] > latest[k]["n_events"]:
                latest[k] = r
        return table(df.columns, list(latest.values()))

    # -- segments -----------------------------------------------------------

    def _start(self, st: dict):
        out, mode = self._flow_df(st["flow"], os.path.join(st["dir"], "drop"))
        with self.runner.span("streaming.start", "streaming"):
            return (
                out.writeStream.format("memory").queryName(st["sink"]).outputMode(mode)
                .option("checkpointLocation", os.path.join(st["dir"], "checkpoint"))
                .start()
            )

    def _drop(self, st: dict) -> None:
        src = self.files[st["fed"]]
        dst = os.path.join(st["dir"], "drop", os.path.basename(src))
        tmp = os.path.join(st["dir"], "drop", "." + os.path.basename(src) + ".tmp")
        try:
            os.link(src, tmp)
        except OSError:
            shutil.copyfile(src, tmp)
        os.replace(tmp, dst)
        st["fed"] += 1

    def _progress(self, q, after: int) -> list[dict]:
        out = []
        for p in q.recentProgress:
            d = json.loads(p.json) if hasattr(p, "json") else p
            if d["batchId"] > after:
                out.append(d)
        return out

    def _check_rows(self, q, st: dict) -> None:
        """Every row dropped so far must have been read by a finished batch:
        the input rows of the batches since the last call must be the rows of
        the file just dropped (once per source). Read after every batch: the
        query keeps only its last 100 progress reports."""
        want = st["fed"] * self.rows_per_file * st["sources"]
        give_up = time.perf_counter() + 5.0  # a progress report may lag the commit
        while True:
            for p in self._progress(q, st["acct"]):
                st["acct"] = max(st["acct"], p["batchId"])
                st["seen"] += p.get("numInputRows", 0)
            if st["seen"] >= want or time.perf_counter() > give_up:
                break
            time.sleep(0.05)
        if st["seen"] != want:
            raise AssertionError(f"{st['flow']}: batches read {st['seen']} rows of "
                                 f"{want} dropped")

    def _observe(self, q, st):
        def observe():
            runner = self.runner
            for p in self._progress(q, st["last_batch"]):
                st["last_batch"] = max(st["last_batch"], p["batchId"])
                d = p.get("durationMs", {})
                runner.count("streaming.trigger_s", d.get("triggerExecution", 0) / 1e3)
                runner.count("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
                runner.count("streaming.plan_s", d.get("queryPlanning", 0) / 1e3)
                runner.count("streaming.commit_s",
                             (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
                runner.count("sources.ipc_offset_s", d.get("latestOffset", 0) / 1e3)
                for so in p.get("stateOperators", []):
                    runner.gauge("streaming.state_rows", so.get("numRowsTotal", 0))
                    runner.count("streaming.state_rows_updated", so.get("numRowsUpdated", 0))
                    runner.gauge("streaming.state_mem_bytes", so.get("memoryUsedBytes", 0))
                    runner.count("streaming.state_commit_s", so.get("commitTimeMs", 0) / 1e3)
                    runner.gauge("streaming.state_partitions", so.get("numShufflePartitions", 0))
                    runner.count("streaming.rows_dropped_by_watermark",
                                 so.get("numRowsDroppedByWatermark", 0))
        return observe

    def _run_flow(self, flow: str, n_timed: int, deadline: float) -> None:
        """Start one query of ``flow`` on a fresh drop directory and feed it
        ``WARMUP_FILES`` untimed batches, then ``n_timed`` timed ones. The
        query start and warm-up batches count as set-up."""
        d = os.path.join(self.dir, flow)
        os.makedirs(os.path.join(d, "drop"))
        st = {"flow": flow, "dir": d, "fed": 0, "last_batch": -1, "acct": -1, "seen": 0,
              "sources": 2 if flow == "attribution_join" else 1,
              "sink": f"pb_{flow}_{uuid.uuid4().hex[:8]}"}
        self.instances.append(st)
        after0, t0 = self.runner.after_s, time.perf_counter()
        q = self._start(st)
        try:
            while st["fed"] < min(WARMUP_FILES + n_timed, len(self.files)) \
                    and q.exception() is None and time.perf_counter() < deadline:
                timed = st["fed"] >= WARMUP_FILES

                def batch():
                    self._drop(st)
                    with self.runner.span("streaming.process_all_available", "streaming"):
                        q.processAllAvailable()

                self.runner.run_op(f"batch:{flow}", self.rows_per_file, batch,
                                   lambda _: self._check_rows(q, st), timed=timed,
                                   observe=self._observe(q, st))
                if st["fed"] == WARMUP_FILES:
                    self.setup_extra_s += (time.perf_counter() - t0
                                           - (self.runner.after_s - after0))
        finally:
            q.stop()
        self.extra_checks += 1
        if q.exception() is not None:
            self.runner.fail(f"{flow}: query failed: {q.exception()}")

    def warmup(self) -> None:
        """Warm-up batches run inside each flow's query (see ``_run_flow``)."""

    def timed(self, seconds: float, deadline: float) -> None:
        """A fixed number of micro-batches per flow, so every run measures the
        same mix: ``BATCHES_PER_SECOND * seconds`` (about ``seconds`` of batch
        time in all on 4 cores)."""
        n = max(1, math.ceil(BATCHES_PER_SECOND * seconds))
        for flow in FLOWS:
            self._run_flow(flow, n, deadline)

    def final_checks(self) -> None:
        for st in self.instances:
            self.extra_checks += 1
            try:
                same_rows(self._sink(st["flow"], st["sink"]),
                          self._twin(st["flow"], os.path.join(st["dir"], "drop")),
                          f"{st['flow']} sink vs batch twin")
            except AssertionError as exc:
                self.runner.fail(str(exc))
