"""Custom stateful streaming: per-conversation reassembly with
``applyInPandasWithState`` (task brief §streaming).

Batch reassembly (plans.pipeline.reassemble_conversations) needs every
turn of a conversation in one shuffle; on an unbounded turn stream the
equivalent is a per-conversation GroupState that accumulates
(turn_idx, table_id, csv_text) rows, table-less turns included, and
emits the finalized conversation document once the event-time
watermark passes the conversation's last turn timestamp plus ``gap``
(agent transcripts carry no end marker, so watermarked quiescence is
the close signal — session-window semantics with custom state).

The emitted doc orders and joins the rows as the batch reassembly does
(turns by turn_idx, a turn's tables by table_id; same separators), so
a conversation closed by the stream is byte-equal to one produced by
the batch path, with the same n_turns and n_tables. State lives in the
streaming state store: a killed job resumes with its accumulated
conversations intact (complements the bucket-grain lineage in
plans.lineage).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pdf2gtfs_spark.sources.transcripts import CONV_DOC_SEP, TABLE_SEP

STATE_SCHEMA = ("turn_idxs array<int>, table_ids array<int>, "
                "csvs array<string>, last_ts_ms bigint")
OUTPUT_SCHEMA = ("conv_id string, n_turns int, n_tables int, "
                 "conversation_doc string")


def _doc(turn_idxs, table_ids, csvs) -> tuple[int, int, str]:
    """(n_turns, n_tables, doc) of one conversation's rows, in batch
    order: turns by turn_idx, a turn's rows by (table_id, csv_text)
    with NULL first; a table-less row adds its turn but no text."""
    def key(row):
        return tuple((v is not None, v) for v in row)

    by_turn: dict[int, list[str]] = {}
    for t, _, c in sorted(zip(turn_idxs, table_ids, csvs), key=key):
        cs = by_turn.setdefault(t, [])
        if c is not None:
            cs.append(c)
    doc = CONV_DOC_SEP.join(TABLE_SEP.join(cs) for cs in by_turn.values())
    return len(by_turn), sum(t is not None for t in table_ids), doc


def _reassemble_fn(gap_ms: int):
    from pyspark.sql.streaming.state import GroupState

    def fn(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            n_turns, n_tables, doc = _doc(*state.get[:3])
            state.remove()
            yield pd.DataFrame([{
                "conv_id": conv_id,
                "n_turns": n_turns,
                "n_tables": n_tables,
                "conversation_doc": doc,
            }])
            return
        if state.exists:
            turn_idxs, table_ids, csvs = map(list, state.get[:3])
            last_ts = state.get[3]
        else:
            turn_idxs, table_ids, csvs, last_ts = [], [], [], 0
        for pdf in pdfs:
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000)
            for t, tid, c, ms in zip(pdf["turn_idx"], pdf["table_id"],
                                     pdf["csv_text"], ts_ms):
                # a table-less turn is kept: it still counts as a turn
                # and takes its separator in the doc
                turn_idxs.append(int(t))
                table_ids.append(None if pd.isna(tid) else int(tid))
                csvs.append(None if pd.isna(c) else str(c))
                last_ts = max(last_ts, int(ms))
        state.update((turn_idxs, table_ids, csvs, last_ts))
        # close when the watermark passes the last turn + gap
        state.setTimeoutTimestamp(last_ts + gap_ms)
        return
        yield  # pragma: no cover - keeps fn a generator

    return fn


def stream_reassemble(extracted_stream, gap: str = "10 minutes",
                      gap_ms: int = 10 * 60 * 1000):
    """(streaming DF of per-turn extraction rows incl. ``ts``) ->
    finalized conversation docs, one per conversation after its
    watermarked quiet gap."""
    return (extracted_stream
            .withWatermark("ts", gap)
            .groupBy("conv_id")
            .applyInPandasWithState(
                _reassemble_fn(gap_ms),
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf="EventTimeTimeout"))
