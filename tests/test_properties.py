"""Property-based tests (hypothesis) for the kernel's pure functions.

The reference has no randomized testing (SURVEY.md §5 'Absent'); these
pin the invariants the distributed pipeline depends on: codec
round-trips, strptime-equivalence of the compiled time regex, and
normalization idempotence.
"""

import string
from time import strptime

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf2gtfs_spark.config import DEFAULT_CONFIG
from pdf2gtfs_spark.kernel.payload import (
    PageBox, decode_payload_arrays, decode_payload_batch, encode_chars,
)
from pdf2gtfs_spark.kernel.timefmt import (
    is_time_str, seconds_to_gtfs, gtfs_to_seconds, time_format_to_regex,
)
from pdf2gtfs_spark.functions.normalize import normalize_name

_TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + "äöüß.-,: ",
    min_size=1, max_size=12).map(str.strip).filter(bool)
# payload wire format is tab/newline-delimited
_TEXT_WIRE = _TEXT.filter(lambda s: "\t" not in s and "\n" not in s)


class TestPayloadRoundTrip:
    @given(st.lists(st.tuples(
        st.floats(0, 500, allow_nan=False),
        st.floats(0, 500, allow_nan=False),
        st.floats(0.125, 20, allow_nan=False),
        st.floats(0.125, 20, allow_nan=False),
        _TEXT_WIRE.map(lambda s: s[0])), min_size=0, max_size=40))
    @settings(max_examples=50, deadline=None)
    def test_encode_decode_roundtrip(self, boxes):
        chars = pd.DataFrame(
            [(round(x, 2), round(y, 2), round(x + w, 2), round(y + h, 2), t)
             for x, y, w, h, t in boxes],
            columns=["x0", "y0", "x1", "y1", "text"])
        page = PageBox(0.0, 0.0, 1000.0, 1000.0)
        payload = encode_chars(page, chars)
        page2, decoded = decode_payload_arrays(payload)
        assert (page2.x0, page2.y1) == (page.x0, page.y1)
        assert len(decoded["text"]) == len(chars)
        if len(chars):
            assert list(decoded["text"]) == list(chars["text"])
            assert np.allclose(decoded["x0"], chars["x0"])
        # the batch decoder is exact w.r.t. the per-turn parser
        page3, batched = decode_payload_batch([payload])[0]
        assert page3 == page2
        for col, arr in decoded.items():
            assert list(batched[col]) == list(arr), col


class TestTimeRegexEquivalence:
    @given(st.text(alphabet="0123456789.: ", min_size=1, max_size=7))
    @settings(max_examples=300, deadline=None)
    def test_matches_strptime(self, text):
        """The compiled regex + bounds must accept exactly the strings
        strptime(Config.time_format) accepts (celltype.py:175-186)."""
        fmt = DEFAULT_CONFIG.time_format
        regex, order = time_format_to_regex(fmt)
        try:
            strptime(text, fmt)
            expected = True
        except ValueError:
            expected = False
        assert is_time_str(text, regex, order) == expected

    @given(st.integers(0, 99 * 3600 + 59 * 60 + 59))
    @settings(max_examples=100, deadline=None)
    def test_gtfs_time_roundtrip(self, seconds):
        assert gtfs_to_seconds(seconds_to_gtfs(seconds)) == seconds


class TestNewPathNeverCrashes:
    """At 10^12 turns every geometry the generator can produce must
    extract without raising (degraded output is fine; a dead executor
    task is not)."""

    @given(st.lists(st.tuples(
        st.sampled_from(["9.15", "10.00", "an", "ab", "alle", "15",
                         "Min.", "Samstag", "Sonn-", "und", "Feiertag",
                         "Haltestelle Nord", "x=1", "V", "Linie", "S1",
                         "7", "99.99", "-", ","]),
        st.integers(0, 60).map(lambda k: 40.0 + 5 * k),
        st.integers(0, 40).map(lambda k: 50.0 + 10 * k)),
        min_size=0, max_size=60))
    @settings(max_examples=60, deadline=None)
    def test_random_layouts(self, cells):
        import dataclasses

        from pdf2gtfs_spark.config import DEFAULT_CONFIG
        from pdf2gtfs_spark.kernel.extract import extract_turn
        from pdf2gtfs_spark.sources.transcripts import cells_to_payload

        # de-overlap identical anchor points (last wins, like a PDF
        # would never produce two glyphs at one spot)
        uniq = {}
        for text, x, y in cells:
            uniq[(x, y)] = text
        cells = [(t, x, y) for (x, y), t in uniq.items()]
        if not cells:
            return
        payload = cells_to_payload(cells)
        for path in ("legacy", "new"):
            cfg = dataclasses.replace(DEFAULT_CONFIG, extraction_path=path)
            res = extract_turn(payload, cfg)
            assert not res.malformed
            for t in res.tables:
                assert t.csv_text.endswith("\n")
                assert (t.stops["stop_pos"] >= 0).all()


class TestNormalizeIdempotent:
    @given(_TEXT)
    @settings(max_examples=150, deadline=None)
    def test_idempotent(self, name):
        once = normalize_name(name)
        assert normalize_name(once) == once

    @given(_TEXT)
    @settings(max_examples=100, deadline=None)
    def test_word_order_invariant(self, name):
        words = name.split()
        if len(words) < 2:
            return
        reordered = " ".join(reversed(words))
        assert normalize_name(name) == normalize_name(reordered)
