"""ST2 — per-batch broadcast-state refresh: the whitelist must be re-read
inside every micro-batch (deliberately NOT the reference's stale singleton,
/root/reference/embargo.go:55-57, where a refresh endpoint was a no-op
because the config cached itself process-wide)."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from etl_embargo_spark.catalog import load_table
from etl_embargo_spark.streaming.daily import (
    run_foreach_batch,
    stream_events_from_parquet,
)


class TestForeachBatchDimRefresh:
    def test_dim_is_reread_every_batch(self, spark, sf_dir, tmp_path):
        src_dir = str(tmp_path / "events_src")
        dim_path = Path(tmp_path / "whitelist.json")
        ckpt = str(tmp_path / "ckpt")

        events = load_table(spark, sf_dir, "events")
        # 8 files + maxFilesPerTrigger=4 => exactly 2 micro-batches
        events.repartition(8).write.parquet(src_dir)
        dim_path.write_text(json.dumps({"version": 0}))

        seen: list[tuple[int, int]] = []  # (epoch, dim version used)

        def batch_fn(batch_df, epoch_id: int) -> None:
            # fresh dim state each batch — read, use, then simulate the
            # daily cron updating it after this run
            version = json.loads(dim_path.read_text())["version"]
            assert batch_df.count() > 0
            seen.append((epoch_id, version))
            dim_path.write_text(json.dumps({"version": version + 1}))

        stream = stream_events_from_parquet(spark, src_dir, events.schema)
        q = run_foreach_batch(stream, ckpt, batch_fn)
        q.awaitTermination(180)

        assert len(seen) >= 2, "expected multiple micro-batches"
        versions = [v for _, v in seen]
        # every batch observed a different dim version => no stale cache
        assert versions == list(range(len(seen)))


def _write_events(spark, path: str, rows: list[tuple]) -> None:
    """One parquet file of events rows (event_id, ts_str, user, type, value)."""
    df = spark.createDataFrame(
        [(i, ts, u, t, v, "{}") for (i, ts, u, t, v) in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("append").parquet(path)


_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stream(spark, src_dir: str):
    return (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


class TestWatermarkLateData:
    def test_late_rows_below_watermark_are_dropped(self, spark, tmp_path):
        """Append-mode windowed agg with a 2h watermark across two
        availableNow runs (checkpoint carries the watermark): a row older
        than the persisted watermark must not re-open its already-final
        window, and windows are emitted exactly once when the watermark
        passes them."""
        from etl_embargo_spark.streaming.daily import windowed_event_counts

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        # run 1: two files -> two micro-batches; max ts 13:00 => watermark
        # ends at 11:00, finalizing the 10:00 window
        _write_events(spark, src, [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:30:00", 1, "click", 1.0),
        ])
        _write_events(spark, src, [
            (3, "2024-01-01 12:00:00", 1, "click", 1.0),
            (4, "2024-01-01 13:00:00", 1, "click", 1.0),
        ])
        for _ in range(2):  # second run: late row + fresh row
            agg = windowed_event_counts(_stream(spark, src), window="1 hour")
            q = (
                agg.writeStream.trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .format("parquet")
                .option("path", out)
                .start()
            )
            q.awaitTermination(180)
            _write_events(spark, src, [
                # 10:15 is below the persisted watermark (11:00): dropped
                (5, "2024-01-01 10:15:00", 1, "click", 1.0),
                # 17:00 advances the watermark to 15:00, finalizing 12 & 13
                (6, "2024-01-01 17:00:00", 1, "click", 1.0),
            ])

        got = {
            (str(r["window_start"]), r["n_events"])
            for r in spark.read.parquet(out).collect()
        }
        # the 10:00 window held its phase-1 count of 2 — the late row
        # neither re-opened it nor produced a duplicate window row
        assert got == {
            ("2024-01-01 10:00:00", 2),
            ("2024-01-01 12:00:00", 1),
            ("2024-01-01 13:00:00", 1),
        }

    def test_drop_duplicates_within_watermark(self, spark, tmp_path):
        """Cross-batch key dedup with bounded state: a re-delivered
        event_id within the watermark horizon is dropped; new keys pass."""
        from etl_embargo_spark.streaming.daily import dedup_events_stream

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        _write_events(spark, src, [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:30:00", 1, "click", 1.0),
        ])
        for _ in range(2):
            deduped = dedup_events_stream(_stream(spark, src)).select(
                "event_id", "ts", "user_id", "event_type", "value"
            )
            q = (
                deduped.writeStream.trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .format("parquet")
                .option("path", out)
                .start()
            )
            q.awaitTermination(180)
            _write_events(spark, src, [
                (1, "2024-01-01 10:40:00", 1, "click", 1.0),  # re-delivery
                (3, "2024-01-01 11:00:00", 1, "click", 1.0),  # new key
            ])

        ids = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
        assert ids == [1, 2, 3]

    def test_batch_path_degenerates_to_drop_duplicates(self, spark, sf_dir):
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.streaming.daily import dedup_events_stream

        events = load_table(spark, sf_dir, "events")
        n = dedup_events_stream(events).count()
        assert n == events.select("event_id").distinct().count()


class TestStreamStreamJoin:
    def test_streaming_funnel_matches_batch(self, spark, tmp_path):
        """Stream-stream time-bounded inner join across multiple
        micro-batches equals the batch join of the same data, including a
        cross-batch match (purchase arriving a batch after its view)."""
        from etl_embargo_spark.streaming.daily import streaming_funnel

        views_dir = str(tmp_path / "views")
        purch_dir = str(tmp_path / "purchases")
        # batch 1: views for users 1,2 + an in-batch purchase for 1
        _write_events(spark, views_dir, [
            (101, "2024-01-01 10:00:00", 1, "view", 1.0),
            (102, "2024-01-01 10:05:00", 2, "view", 1.0),
        ])
        _write_events(spark, purch_dir, [
            (201, "2024-01-01 10:30:00", 1, "purchase", 9.0),
        ])
        # batch 2: cross-batch purchase for user 2 (inside horizon) and a
        # too-late purchase for user 1 (outside the 1h horizon)
        _write_events(spark, purch_dir, [
            (202, "2024-01-01 10:50:00", 2, "purchase", 9.0),
            (203, "2024-01-01 11:30:00", 1, "purchase", 9.0),
        ])

        out = streaming_funnel(
            _stream(spark, views_dir), _stream(spark, purch_dir)
        )
        q = (
            out.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .format("memory")
            .queryName("sfunnel")
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["user_id"], r["purchase_id"])
            for r in spark.sql("SELECT * FROM sfunnel").collect()
        }
        # batch reference over the same files
        batch = streaming_funnel(
            spark.read.schema(_EVENTS_SCHEMA).parquet(views_dir),
            spark.read.schema(_EVENTS_SCHEMA).parquet(purch_dir),
        )
        want = {
            (r["user_id"], r["purchase_id"]) for r in batch.collect()
        }
        assert got == want == {(1, 201), (2, 202)}


class TestStreamUpsert:
    def test_upsert_matches_batch_merge_and_reruns_idempotently(
        self, spark, tmp_path
    ):
        """Two change batches merged through the streaming upsert sink must
        leave exactly the per-key last-writer state the batch rule computes
        over all changes at once — batching must not be observable."""
        from etl_embargo_spark.streaming.upsert import (
            merge_last_writer_wins,
            stream_upsert,
        )

        src = str(tmp_path / "changes")
        _write_events(
            spark,
            src,
            [
                (1, "2024-01-01 10:00:00", 1, "profile", 10.0),
                (2, "2024-01-01 10:05:00", 2, "profile", 20.0),
                (3, "2024-01-01 10:10:00", 3, "profile", 30.0),
            ],
        )
        _write_events(
            spark,
            src,
            [
                (4, "2024-01-01 11:00:00", 2, "profile", 21.0),
                (5, "2024-01-01 11:05:00", 3, "profile", 31.0),
                (6, "2024-01-01 11:10:00", 4, "profile", 40.0),
            ],
        )

        table = str(tmp_path / "table")
        ckpt = str(tmp_path / "ckpt")
        q = stream_upsert(
            _stream(spark, src),
            table,
            ckpt,
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
        )
        q.awaitTermination(120)

        got = {
            (r.user_id, r.value)
            for r in spark.read.parquet(table).collect()
        }
        assert got == {(1, 10.0), (2, 21.0), (3, 31.0), (4, 40.0)}

        # batch oracle: one merge over the full change log
        want = {
            (r.user_id, r.value)
            for r in merge_last_writer_wins(
                None,
                spark.read.parquet(src),
                ["user_id"],
                ["ts", "event_id"],
            ).collect()
        }
        assert got == want

        # rerun on the drained checkpoint: no state change
        q2 = stream_upsert(
            _stream(spark, src),
            table,
            ckpt,
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
        )
        q2.awaitTermination(120)
        got2 = {
            (r.user_id, r.value)
            for r in spark.read.parquet(table).collect()
        }
        assert got2 == got


class TestStreamingSessionWindow:
    def test_streaming_sessions_match_batch(self, spark, tmp_path):
        """Gap-based session_window in a STREAMING query (watermarked,
        append mode, availableNow) over files split so one user's
        session SPANS micro-batches: the state store must merge the
        partial session across batches and emit each finalized session
        exactly once, matching the batch-mode sessionize of the same
        rows."""
        from etl_embargo_spark.streaming.daily import sessionize

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        batch1 = [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:10:00", 1, "click", 2.0),
            (3, "2024-01-01 10:05:00", 2, "view", 1.0),
        ]
        batch2 = [
            # extends user 1's open session across the batch boundary
            (4, "2024-01-01 10:25:00", 1, "buy", 3.0),
            # new session for user 2 (gap > 30 min from 10:05)
            (5, "2024-01-01 11:30:00", 2, "view", 1.0),
            # watermark driver: pushes event-time far past all sessions
            (6, "2024-01-01 20:00:00", 3, "click", 1.0),
        ]
        _write_events(spark, src, batch1)
        _write_events(spark, src, batch2)

        sess = sessionize(_stream(spark, src))
        q = (
            sess.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.awaitTermination(180)

        got = {
            (str(r["session_start"]), r["user_id"], r["n_events"],
             r["total_value"])
            for r in spark.read.parquet(out).collect()
        }
        batch_rows = sessionize(
            spark.createDataFrame(
                [(i, ts, u, t, v, "{}") for (i, ts, u, t, v) in
                 batch1 + batch2],
                "event_id long, ts string, user_id long, "
                "event_type string, value double, props string",
            )
        )
        expect = {
            (str(r["session_start"]), r["user_id"], r["n_events"],
             r["total_value"])
            for r in batch_rows.collect()
            if r["user_id"] != 3  # user 3's session is still open
        }
        # the cross-batch session surfaced ONCE with all three events
        assert ("2024-01-01 10:00:00", 1, 3, 6.0) in got
        assert got == expect


class TestStreamingDriftMonitor:
    def test_stream_psi_matches_batch_and_flags_shift(
        self, spark, sf_dir, tmp_path
    ):
        """Each micro-batch's PSI row must equal the batch computation
        over the same rows (shared psi_vs_baseline plan), and a stream
        drawn from the same distribution as the baseline must score far
        below the 0.25 alert line."""
        from etl_embargo_spark.operators.analytics import PSI_SPLIT
        from etl_embargo_spark.streaming.daily import (
            drift_monitor_stream,
            psi_vs_baseline,
            stream_events_from_parquet,
            value_bins,
        )

        events = load_table(spark, sf_dir, "events")
        split = F.lit(PSI_SPLIT).cast("timestamp_ntz")
        first_half = events.filter(F.col("ts") < split)
        second_half = events.filter(F.col("ts") >= split)

        baseline = value_bins(first_half).localCheckpoint()

        src_dir = str(tmp_path / "events_src")
        out_dir = str(tmp_path / "psi_out")
        ckpt = str(tmp_path / "ckpt")
        # one file => exactly one micro-batch, so the stream's rows are
        # exactly second_half and parity is checkable
        second_half.coalesce(1).write.parquet(src_dir)

        stream = stream_events_from_parquet(
            spark, src_dir, events.schema
        )
        q = drift_monitor_stream(stream, baseline, ckpt, out_dir)
        q.awaitTermination(180)

        got = spark.read.parquet(out_dir).collect()
        assert len(got) == 1
        want = psi_vs_baseline(second_half, baseline).collect()[0]
        assert got[0].n_events == want.n_events > 0
        assert got[0].psi == want.psi
        # same underlying distribution both halves: well under alert
        assert abs(got[0].psi) < 0.25


class TestCdcApply:
    def test_insert_update_delete_semantics(self, spark):
        from etl_embargo_spark.streaming.upsert import apply_cdc

        current = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 10), (3, "c", 10)],
            "k long, v string, ts long",
        )
        changes = spark.createDataFrame(
            [
                (2, "b2", 20, "U"),   # update key 2
                (3, None, 20, "D"),   # delete key 3
                (4, "d", 20, "I"),    # insert key 4
                (4, "d2", 30, "U"),   # then update it — latest wins
                (5, "e", 20, "I"),
                (5, None, 30, "D"),   # insert then delete — key gone
            ],
            "k long, v string, ts long, op string",
        )
        got = {
            r.k: r.v
            for r in apply_cdc(
                current, changes, ["k"], ["ts"]
            ).collect()
        }
        assert got == {1: "a", 2: "b2", 4: "d2"}

    def test_batching_not_observable(self, spark):
        """Applying two CDC batches sequentially must equal applying
        their union at once (associativity of last-writer-wins+delete
        when batches respect order-key monotonicity per key)."""
        from etl_embargo_spark.streaming.upsert import apply_cdc

        base = spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "k long, v string, ts long"
        )
        b1 = spark.createDataFrame(
            [(1, "a1", 1, "U"), (3, "c", 1, "I")],
            "k long, v string, ts long, op string",
        )
        b2 = spark.createDataFrame(
            [(1, None, 2, "D"), (3, "c2", 2, "U")],
            "k long, v string, ts long, op string",
        )
        seq = apply_cdc(apply_cdc(base, b1, ["k"], ["ts"]), b2, ["k"], ["ts"])
        allatonce = apply_cdc(base, b1.unionByName(b2), ["k"], ["ts"])
        assert sorted(map(tuple, seq.collect())) == sorted(
            map(tuple, allatonce.collect())
        )


class TestEventTimeTimeoutSessions:
    def test_closed_sessions_match_batch(self, spark, sf_dir, tmp_path):
        """Every emitted session must exactly match a batch-computed
        gap session, and the emitted set must be exactly 'all sessions
        except each user's final one' (the final session has no later
        event or watermark advance to close it).  Files are written
        range-partitioned by ts so micro-batches advance in event time
        (no late-drop ambiguity)."""
        from etl_embargo_spark.streaming.daily import (
            stream_events_from_parquet,
        )
        from etl_embargo_spark.streaming.stateful import (
            batch_sessions,
            session_close_stream,
        )

        events = load_table(spark, sf_dir, "events")
        src_dir = str(tmp_path / "events_by_time")
        out_dir = str(tmp_path / "sessions_out")
        ckpt = str(tmp_path / "ckpt")
        # the file source orders batches by file MODIFICATION TIME, so
        # write 8 time-slices sequentially (strictly increasing mtimes)
        # — then maxFilesPerTrigger=4 yields micro-batches that advance
        # in event time and nothing is late-dropped
        import time

        for i in range(8):
            lo, hi = f"2024-01-{1 + 4 * i:02d}", f"2024-01-{5 + 4 * i:02d}"
            part = events.filter(
                (F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
                & (
                    F.col("ts") < F.lit(hi).cast("timestamp_ntz")
                    if i < 7
                    else F.lit(True)
                )
            )
            part.coalesce(1).write.mode("append").parquet(src_dir)
            time.sleep(0.15)

        stream = stream_events_from_parquet(spark, src_dir, events.schema)
        q = (
            session_close_stream(stream)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .start()
        )
        q.awaitTermination(240)

        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.read.parquet(out_dir).collect()
        }
        want = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in batch_sessions(events).collect()
        }
        assert got, "no sessions closed"
        missing = want - got
        extra = got - want
        assert not extra, f"stream emitted non-batch sessions: {sorted(extra)[:3]}"
        assert not missing, f"stream missed sessions: {sorted(missing)[:3]}"


class TestStreamingSnapshotSink:
    """foreachBatch → manifest commit log: one version per micro-batch,
    replayed batches are no-ops, history time-travels per batch."""

    def test_one_version_per_batch_and_time_travel(self, spark, tmp_path):
        from etl_embargo_spark.sinks.snapshots import (
            history,
            read_snapshot,
        )
        from etl_embargo_spark.streaming.snapshot_stream import (
            stream_to_snapshots,
        )

        src = str(tmp_path / "src")
        _write_events(spark, src, [(1, "2024-01-01 00:00:00", 1, "a", 1.0)])
        _write_events(spark, src, [(2, "2024-01-01 00:01:00", 1, "b", 2.0)])
        _write_events(spark, src, [(3, "2024-01-01 00:02:00", 2, "a", 3.0)])

        table = str(tmp_path / "table")
        ckpt = str(tmp_path / "ckpt")
        q = stream_to_snapshots(_stream(spark, src), table, ckpt)
        q.awaitTermination(120)

        hist = history(table)
        assert len(hist) == 3  # maxFilesPerTrigger=1 -> 3 micro-batches
        assert sorted(h["meta"]["batch_id"] for h in hist) == [0, 1, 2]
        assert read_snapshot(spark, table).count() == 3
        # Time travel: the table as of the first batch.
        assert read_snapshot(spark, table, version=1).count() == 1

    def test_replayed_batch_is_noop(self, spark, tmp_path):
        from etl_embargo_spark.catalog import load_table  # noqa: F401
        from etl_embargo_spark.sinks.snapshots import history
        from etl_embargo_spark.streaming.snapshot_stream import (
            snapshot_batch_writer,
        )

        table = str(tmp_path / "table")
        batch = spark.createDataFrame([(1,)], "k long")
        writer = snapshot_batch_writer(table)
        writer(batch, 0)
        writer(batch, 0)  # at-least-once replay of the same batch id
        writer(batch, 1)
        hist = history(table)
        assert [h["meta"]["batch_id"] for h in hist] == [0, 1]


class TestTransformWithStateDedup:
    def test_streamed_dedup_matches_batch_first_per_hash(
        self, spark, sf_dir, tmp_path
    ):
        import pytest as _pytest

        from etl_embargo_spark.streaming.tws_dedup import tws_available

        if not tws_available():
            _pytest.skip(
                "transformWithStateInPandas needs google.protobuf "
                "(absent in this container); applyInPandasWithState "
                "coverage stands in (TestStatefulTotals)"
            )
        """transformWithStateInPandas cross-batch dedup: after draining a
        multi-batch split of the corpus, exactly ONE row is emitted per
        distinct content hash — duplicates are suppressed both within a
        micro-batch and across micro-batches (the ValueState survives)."""
        from etl_embargo_spark.catalog import load_table
        from etl_embargo_spark.streaming.tws_dedup import (
            batch_dedup,
            dedup_stream,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "n_chars"
        )
        # duplicate the corpus so EVERY hash has a cross-batch duplicate
        doubled = docs.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
        )
        src = str(tmp_path / "docs_src")
        doubled.repartition(8).write.parquet(src)

        stream = spark.readStream.schema(doubled.schema).option(
            "maxFilesPerTrigger", 2
        ).parquet(src)
        q = (
            dedup_stream(stream)
            .writeStream.trigger(availableNow=True)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .format("memory")
            .queryName("tws_dedup")
            .start()
        )
        q.awaitTermination(180)

        emitted = spark.sql("SELECT * FROM tws_dedup").collect()
        hashes = [r["doc_hash"] for r in emitted]
        assert len(hashes) == len(set(hashes)), "duplicate hash emitted"
        want = {r["doc_hash"] for r in batch_dedup(docs).collect()}
        assert set(hashes) == want

    def test_processor_logic_with_fake_state(self):
        """The first-seen kernel itself is pure logic — exercised without
        Spark via a fake ValueState, so the gated operator's semantics
        stay tested even where protobuf (hence a live TWS query) is
        unavailable: one emission per key, duplicates dropped within and
        across batches."""
        import pandas as pd

        from etl_embargo_spark.streaming.tws_dedup import (
            make_first_seen_processor,
        )

        class FakeState:
            def __init__(self):
                self._v = None

            def exists(self):
                return self._v is not None

            def update(self, v):
                self._v = v

        class FakeHandle:
            def __init__(self):
                self.state = FakeState()

            def getValueState(self, name, schema, ttlDurationMs=None):
                return self.state

        proc = make_first_seen_processor()
        handle = FakeHandle()
        proc.init(handle)
        batch = pd.DataFrame(
            {"doc_hash": ["h", "h"], "doc_id": [1, 2], "n_chars": [3, 3]}
        )
        # first batch: two duplicate rows -> exactly one emission
        out1 = list(proc.handleInputRows(("h",), iter([batch, batch]), None))
        assert len(out1) == 1 and len(out1[0]) == 1
        assert out1[0].iloc[0]["doc_id"] == 1
        # later batch, same key: state says seen -> nothing emitted
        out2 = list(proc.handleInputRows(("h",), iter([batch]), None))
        assert out2 == []
        # a different key through a fresh processor emits again
        proc2 = make_first_seen_processor()
        proc2.init(FakeHandle())
        out3 = list(proc2.handleInputRows(("g",), iter([batch]), None))
        assert len(out3) == 1


class TestStreamingMetricsExport:
    def test_per_batch_counters_on_dedup_stream(self, spark, tmp_path):
        """The StreamingQueryListener must capture one observed-metrics
        payload per micro-batch of the deduped event stream, with counter
        values matching the batch contents — the streaming half of the
        reference's Prometheus counters (metrics/metrics.go:79-102)."""
        from etl_embargo_spark.streaming.daily import dedup_events_stream
        from etl_embargo_spark.streaming.metrics_export import (
            StreamingMetricsCollector,
            counters_relation,
            observe_event_counters,
        )

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        # two files × maxFilesPerTrigger=1 → two micro-batches; one
        # re-delivered event_id that dedup must drop from the counters
        _write_events(spark, src, [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:30:00", 1, "purchase", 5.0),
        ])
        _write_events(spark, src, [
            (2, "2024-01-01 10:31:00", 1, "purchase", 5.0),  # re-delivery
            (3, "2024-01-01 11:00:00", 2, "purchase", 2.5),
        ])

        collector = StreamingMetricsCollector()
        spark.streams.addListener(collector)
        try:
            deduped = observe_event_counters(
                dedup_events_stream(_stream(spark, src)).select(
                    "event_id", "ts", "user_id", "event_type", "value"
                )
            )
            q = (
                deduped.writeStream.trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .format("parquet")
                .option("path", out)
                .start()
            )
            q.awaitTermination(180)
            assert collector.wait_for_batches(2), collector.snapshot()
        finally:
            spark.streams.removeListener(collector)

        by_batch = {b["batch_id"]: b for b in collector.snapshot()}
        assert len(by_batch) >= 2
        # totals across batches must equal the DEDUPED sink contents
        sunk = spark.read.parquet(out)
        assert sum(b["events_total"] for b in by_batch.values()) == sunk.count()
        assert (
            sum(b["purchases_total"] for b in by_batch.values())
            == sunk.filter("event_type = 'purchase'").count()
        )
        # the re-delivered id 2 was dropped BEFORE the counters saw it
        assert sunk.count() == 3

        rel = counters_relation(spark, collector)
        got_metrics = {r["metric"] for r in rel.collect()}
        assert {"events_total", "value_total", "purchases_total",
                "num_input_rows"} <= got_metrics
        total = (
            rel.filter("metric = 'events_total'")
            .groupBy()
            .sum("value")
            .collect()[0][0]
        )
        assert total == 3.0
