"""Structured Streaming incremental extraction (Trigger.AvailableNow)."""

from pdf2gtfs_spark.sources.transcripts import generate_transcripts
from pdf2gtfs_spark.streaming.availablenow import (
    TRANSCRIPT_DDL, stream_extract,
)


class TestAvailableNow:
    def test_incremental_exactly_once(self, spark, tmp_path):
        inp = str(tmp_path / "in")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        t1, _ = generate_transcripts(n_convs=2, base_turns=2, skew_every=0,
                                     include_fixtures=False)
        spark.createDataFrame(t1, TRANSCRIPT_DDL).write.mode(
            "append").parquet(inp)
        stream_extract(spark, inp, out, ckpt)
        n1 = spark.read.parquet(out).count()
        assert n1 > 0

        # second batch of files: only the new ones are processed
        t2, _ = generate_transcripts(n_convs=2, base_turns=2, skew_every=0,
                                     include_fixtures=False)
        t2 = t2.assign(conv_id=t2["conv_id"] + "_b2")
        spark.createDataFrame(t2, TRANSCRIPT_DDL).write.mode(
            "append").parquet(inp)
        stream_extract(spark, inp, out, ckpt)
        got = spark.read.parquet(out)
        n2 = got.count()
        assert n2 > n1
        # exactly-once: no duplicate (conv, turn, table) keys
        assert got.select("conv_id", "turn_idx", "table_id").distinct() \
                  .count() == n2

        # re-run with no new files: nothing added
        stream_extract(spark, inp, out, ckpt)
        assert spark.read.parquet(out).count() == n2


class TestStatefulReassembly:
    def test_conversations_emit_after_watermark_gap(self, spark, tmp_path):
        from datetime import timedelta

        from pdf2gtfs_spark.plans.pipeline import (
            map_extract, reassemble_conversations, run_extract,
        )
        from pdf2gtfs_spark.streaming.stateful import stream_reassemble

        inp = str(tmp_path / "in")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        t1, _ = generate_transcripts(n_convs=2, base_turns=2, skew_every=0,
                                     include_fixtures=False)
        tdf = spark.createDataFrame(t1, TRANSCRIPT_DDL)
        tdf.write.mode("append").parquet(inp)

        def run_once():
            stream = (spark.readStream.schema(TRANSCRIPT_DDL).parquet(inp)
                      .select("conv_id", "turn_idx", "text", "ts"))
            extracted = map_extract(stream, emit="csv", with_ts=True)
            q = (stream_reassemble(extracted).writeStream
                 .format("parquet").option("path", out)
                 .option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination(180)
            q.stop()

        run_once()   # turns ingested into state (watermark not passed)
        # a much later file advances the event-time watermark past the
        # first conversations' last ts + gap -> they close and emit
        t2, _ = generate_transcripts(n_convs=1, base_turns=2, skew_every=0,
                                     include_fixtures=False)
        t2 = t2.assign(conv_id=t2["conv_id"] + "_late",
                       ts=t2["ts"] + timedelta(hours=2))
        spark.createDataFrame(t2, TRANSCRIPT_DDL).write.mode(
            "append").parquet(inp)
        run_once()
        docs = {r["conv_id"]: r for r in spark.read.parquet(out).collect()}
        batch = {r["conv_id"]: r for r in reassemble_conversations(
            run_extract(tdf.select("conv_id", "turn_idx", "text"))
        ).collect()}
        # the first-batch conversations emitted and match the batch
        # reassembly byte for byte (state survived across restarts)
        assert set(batch).issubset(set(docs))
        for cid, b in batch.items():
            assert docs[cid]["conversation_doc"] == b["conversation_doc"]
            assert docs[cid]["n_turns"] == b["n_turns"]

    def test_closed_doc_equals_batch_doc(self, spark):
        """Same rows, same doc: a turn's tables join in table_id order
        (not text order) and a table-less turn keeps its separator and
        its count, as in the batch reassembly."""
        import pandas as pd

        from pdf2gtfs_spark.plans.pipeline import (
            EXTRACT_SCHEMA_CSV, reassemble_conversations,
        )
        from pdf2gtfs_spark.streaming.stateful import _reassemble_fn

        class FakeState:
            hasTimedOut, value = False, None

            @property
            def exists(self):
                return self.value is not None

            @property
            def get(self):
                return self.value

            def update(self, value):
                self.value = value

            def remove(self):
                self.value = None

            def setTimeoutTimestamp(self, ms):
                pass

        rows = [("c", 0, 0, "b,1\n"), ("c", 0, 1, "a,2\n"),
                ("c", 1, None, None), ("c", 2, 0, "c,3\n")]
        pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx",
                                          "table_id", "csv_text"])
        pdf["ts"] = pd.Timestamp("2026-01-01")
        fn, state = _reassemble_fn(gap_ms=1000), FakeState()
        assert list(fn(("c",), [pdf], state)) == []
        state.hasTimedOut = True
        (out,) = fn(("c",), [], state)
        got = out.iloc[0]
        batch = reassemble_conversations(spark.createDataFrame(
            [(*r, 1, 1, False) for r in rows], EXTRACT_SCHEMA_CSV)
        ).collect()[0]
        assert got["conversation_doc"] == batch["conversation_doc"]
        assert (got["n_turns"], got["n_tables"]) == (
            batch["n_turns"], batch["n_tables"]) == (3, 3)
        assert not state.exists


class TestWindowedWatermark:
    def test_late_rows_dropped_after_watermark(self, spark, tmp_path):
        """Watermarked tumbling-window agg (brief §streaming): append
        mode emits a window exactly once after the watermark passes
        its end, and rows later than the watermark delay are dropped
        by the state store instead of mutating the emitted window."""
        from datetime import datetime

        import pandas as pd

        from pdf2gtfs_spark.streaming.windowed import (
            TRANSCRIPT_DDL, stream_turn_rate, turn_rate_windows,
        )

        inp = str(tmp_path / "in")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        def rows(specs):
            return pd.DataFrame(
                [(c, i, "user", t_txt, "",
                  datetime(2024, 1, 1, hh, mm)) for
                 (c, i, t_txt, hh, mm) in specs],
                columns=["conv_id", "turn_idx", "role", "text",
                         "tool", "ts"])

        # batch 1: two on-time turns for c0 and one for c1 inside
        # [09:00, 09:10), plus a 10:06 row that pushes the watermark
        # to 10:01 (> window end) once the batch commits
        b1 = rows([("c0", 0, "aaaa", 9, 1), ("c0", 1, "bb", 9, 5),
                   ("c1", 0, "ccc", 9, 2), ("cx", 0, "d", 10, 6)])
        spark.createDataFrame(b1, TRANSCRIPT_DDL).write.mode(
            "append").parquet(inp)
        stream_turn_rate(spark, inp, out, ckpt)

        # batch 2: a LATE row for c0 at 09:03 (watermark already
        # 10:01) plus a fresh row to keep the stream moving
        b2 = rows([("c0", 2, "LATE", 9, 3), ("cy", 0, "e", 10, 20)])
        spark.createDataFrame(b2, TRANSCRIPT_DDL).write.mode(
            "append").parquet(inp)
        stream_turn_rate(spark, inp, out, ckpt)

        got = spark.read.parquet(out).toPandas()
        w9 = got[got["window_start"] == datetime(2024, 1, 1, 9, 0)]
        c0 = w9[w9["conv_id"] == "c0"]
        # emitted exactly once, WITHOUT the late row
        assert len(c0) == 1
        assert int(c0["n_turns"].iloc[0]) == 2
        assert int(c0["n_chars"].iloc[0]) == 6          # aaaa + bb
        assert int(w9[w9["conv_id"] == "c1"]["n_turns"].iloc[0]) == 1

        # batch semantics twin: the same plan over a static read gives
        # the full (no-watermark) aggregation including the late row
        batch = turn_rate_windows(
            spark.read.parquet(inp)).toPandas()
        bc0 = batch[(batch["conv_id"] == "c0")
                    & (batch["window_start"]
                       == datetime(2024, 1, 1, 9, 0))]
        assert int(bc0["n_turns"].iloc[0]) == 3          # late row in
