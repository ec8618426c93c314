"""Pinned front-end outputs on adversarial payloads.

``tests/test_output_corpus.py`` pins the kernel on well-formed layouts
in payload order.  This file pins the shared front end (payload decode,
char cleanup, line/field clustering) and the per-turn outputs on inputs
built to break fast paths:

- chars in shuffled order, and chars that tie on ``(y0, x0)``;
- multi-glyph, empty, whitespace and ``(cid:N)`` texts;
- zero-width, zero-height and off-page boxes, negative coordinates;
- coordinates with more than 2 decimals (also fed uncleaned straight
  to ``chars_to_field_arrays``), signed zeros and a span too wide for
  32-bit keys;
- blank-line, ragged, header-only and malformed payloads, and exotic
  float spellings.

Each case hashes the decoded arrays (one batch decode of all payloads
and one per payload), the cleaned arrays, the ``_Fields`` arrays of
``chars_to_field_arrays`` and every table's CSV, cells, entries and
stops from ``extract_turn`` on the legacy and newpath engines.  After
an intended output change, replace the stored digest with the computed
one from the failure message.
"""

from __future__ import annotations

import dataclasses
import hashlib
import random

import numpy as np
import pytest

from pdf2gtfs_spark.config import DEFAULT_CONFIG
from pdf2gtfs_spark.kernel.extract import (
    chars_to_field_arrays, cleanup_char_arrays, extract_turn,
)
from pdf2gtfs_spark.kernel.payload import (
    CHAR_H, CHAR_W, MalformedPayload, decode_payload_batch,
)
from pdf2gtfs_spark.sources.transcripts import synth_grid

NEW_CFG = dataclasses.replace(DEFAULT_CONFIG, extraction_path="new")


def _grid_chars(grid, header_rows, y_start=40.0, x_start=40.0):
    """(x0, y0, x1, y1, text) char boxes of a grid, one per glyph, with
    column slots wide enough that columns never touch."""
    n_cols = max(len(r) for r in grid)
    widths = [max([1] + [len(row[c]) for r, row in enumerate(grid)
                         if r not in header_rows and c < len(row)])
              for c in range(n_cols)]
    slots, x = [], x_start
    for w in widths:
        slots.append(x)
        x += w * CHAR_W + 10.0
    chars = []
    for r, row in enumerate(grid):
        y0 = y_start + r * 10.0
        for c, text in enumerate(row):
            if r in header_rows:
                x = slots[0] - 2.0 if c == 0 else slots[c - 1] + 2.0
            else:
                x = slots[c]
            for ch in text:
                chars.append([round(x, 2), y0, round(x + CHAR_W, 2),
                              y0 + CHAR_H, ch])
                x += CHAR_W
    return chars


def _synth_chars(seed: int, n_tables: int = 2):
    rng = np.random.default_rng(seed)
    chars, y = [], 40.0
    for _ in range(n_tables):
        grid, hdr = synth_grid(rng, n_stops=int(rng.integers(6, 12)),
                               n_trips=int(rng.integers(4, 9)))
        chars += _grid_chars(grid, hdr, y_start=y)
        y += len(grid) * 10.0 + 24.0
    return chars


def _fmt(v) -> str:
    return v if isinstance(v, str) else repr(float(v))


def _payload(chars, page=(0.0, 0.0, 1000.0, 1000.0)) -> str:
    head = "PAGE\t" + "\t".join(_fmt(v) for v in page) + "\n"
    return head + "".join("\t".join(_fmt(v) for v in c[:4]) + f"\t{c[4]}\n"
                          for c in chars)


def _cases() -> dict[str, str]:
    cases = {}
    for seed in range(3):
        chars = _synth_chars(seed)
        cases[f"ordered_{seed}"] = _payload(chars)
        random.Random(seed).shuffle(chars)
        cases[f"shuffled_{seed}"] = _payload(chars)

    # equal (y0, x0) ties: duplicates with other texts and widths, and
    # a second glyph stacked on every fifth char, all shuffled
    rnd = random.Random(10)
    chars = _synth_chars(10)
    extra = [[c[0], c[1], c[2] + rnd.choice((0.0, 1.5, -1.0)), c[3],
              rnd.choice("xX1:, ")] for c in chars[::5]]
    chars += extra
    rnd.shuffle(chars)
    cases["ties"] = _payload(chars)
    # ties only on y0 with x0 reversed against x1 order
    row = [[40.0 + 5 * k, 100.0, 45.0 + 5 * k - (k % 3), 108.0, "ab"[k % 2]]
           for k in range(12)]
    cases["ties_rowonly"] = _payload(row[::-1] + row)

    # multi-glyph, cid, empty and whitespace texts in a grid
    rnd = random.Random(20)
    chars = _synth_chars(20)
    odd = ["(cid:65)", "(cid:x)", "ab", "", " ", "\x1c", "\x1f", "\x85",
           "\xa0", "\u3000", '"', ",", 'Q"R', "(cid:44)", "(cid:34)"]
    for c in chars[3::7]:
        c[4] = rnd.choice(odd)
    rnd.shuffle(chars)
    cases["glyphs"] = _payload(chars)
    cases["glyphs_ordered"] = _payload(sorted(chars, key=lambda c: c[:2]))

    # as many empty as two-glyph texts, each pair inside one word, so
    # the join is exactly as long as the texts are many; shuffled
    chars = _synth_chars(25)
    pairs = [(a, b) for a, b in zip(chars, chars[1:])
             if a[1] == b[1] and a[2] == b[0]][::4]
    for k, (a, b) in enumerate(pairs):
        a[4], b[4] = ("", "fi") if k % 2 else ("ab", "")
    random.Random(25).shuffle(chars)
    cases["empty_multiglyph"] = _payload(chars)
    cases["empty_multiglyph_pair"] = _payload([[10.0, 10.0, 15.0, 18.0, "ab"],
                                               [5.0, 10.0, 10.0, 18.0, ""]])

    # zero-width, zero-height, inverted and off-page boxes
    chars = _synth_chars(30, n_tables=1)
    for k, c in enumerate(chars[::6]):
        kind = k % 5
        if kind == 0:
            c[2] = c[0]
        elif kind == 1:
            c[3] = c[1]
        elif kind == 2:
            c[2] = c[0] - 1.0
        elif kind == 3:
            c[0] -= 2000.0
        else:
            c[3] += 5000.0
    cases["boxes"] = _payload(chars, page=(0.0, 0.0, 400.0, 400.0))

    # more than 2 decimals: jitter below and around the rounding step
    rnd = random.Random(40)
    chars = _synth_chars(40)
    for c in chars:
        for j in range(4):
            c[j] = c[j] + rnd.choice((0.0, 0.001, -0.004, 0.005, 0.0049999,
                                      0.125, 1e-9, 0.333333))
    rnd.shuffle(chars)
    cases["decimals"] = _payload(chars)
    # ... and jitter small enough that the tables survive
    chars = _synth_chars(41)
    for c in chars:
        for j in range(4):
            c[j] = c[j] + rnd.choice((0.0, 0.001, -0.004, 0.005, 0.0049999,
                                      -0.0051, 1e-9))
    rnd.shuffle(chars)
    cases["decimals_small"] = _payload(chars)

    # negative coordinates on a page with a negative origin
    chars = _synth_chars(50)
    for c in chars:
        c[0] -= 300.0
        c[2] -= 300.0
        c[1] -= 150.0
        c[3] -= 150.0
    random.Random(50).shuffle(chars)
    cases["negative"] = _payload(chars, page=(-400.0, -200.0, 800.0, 900.0))

    # signed zeros: -0.001 rounds to -0.0, which ties with 0.0 inside
    # one field (x0) and one line (y0)
    chars = _synth_chars(80, n_tables=1)
    for c in chars:
        c[0] -= 40.0
        c[2] -= 40.0
        c[1] -= 40.0
        c[3] -= 40.0
    zeros = [[-0.001, -0.001, 4.0, 8.0, "Z"], [0.0, 0.0, 5.0, 8.0, "z"],
             [0.004, -0.0, 6.0, 8.0, "y"], [-0.0, 0.002, 3.0, 8.0, "x"]]
    cases["signed_zero"] = _payload(zeros + chars,
                                    page=(-0.001, -0.001, 600.0, 600.0))

    # wide coordinates (large magnitudes) and values on 2-decimal steps
    chars = _synth_chars(60, n_tables=1)
    for c in chars:
        c[0] += 1e7
        c[2] += 1e7
    cases["wide"] = _payload(chars, page=(0.0, 0.0, 2e7, 1000.0))

    # a block so far right that 2-decimal keys would overflow 32 bits
    chars = _synth_chars(61, n_tables=1)
    chars += [[c[0] + 5e7, c[1], c[2] + 5e7, c[3], c[4]]
              for c in _synth_chars(62, n_tables=1)]
    random.Random(61).shuffle(chars)
    cases["huge"] = _payload(chars, page=(0.0, 0.0, 1e8, 1000.0))

    # ASCII glyphs that str.strip() removes but C isspace() does not
    rnd = random.Random(90)
    chars = _synth_chars(90, n_tables=1)
    for c in chars[::4]:
        c[4] = rnd.choice("\x1c\x1d\x1e\x1f \x0b\x0c")
    cases["ascii_separators"] = _payload(chars)

    base = _payload(_synth_chars(70, n_tables=1))
    head, body = base.split("\n", 1)
    lines = body.rstrip("\n").split("\n")
    cases["blank_lines"] = (head + "\n\n" + "\n\n".join(lines[:40]) + "\n"
                            + "\n".join(lines[40:]) + "\n\n\n")
    cases["no_trailing_newline"] = base.rstrip("\n")
    cases["crlf"] = base.replace("\n", "\r\n")
    ragged = list(lines)
    ragged[5] += "\textra"
    ragged[9] = ragged[9].rsplit("\t", 1)[0]
    cases["ragged_balanced"] = head + "\n" + "\n".join(ragged) + "\n"
    ragged = list(lines)
    ragged[3] = ragged[3].rsplit("\t", 1)[0]
    cases["ragged_short"] = head + "\n" + "\n".join(ragged) + "\n"
    cases["header_only"] = "PAGE\t0\t0\t100\t100"
    cases["header_only_nl"] = "PAGE\t0\t0\t100\t100\n"
    cases["header_blank_body"] = "PAGE\t0\t0\t100\t100\n\n\n"
    cases["empty"] = ""
    cases["bad_tag"] = "PAGEBOX\t0\t0\t100\t100\n1\t1\t6\t9\tx\n"
    cases["bad_page"] = "PAGE\tzero\t0\t100\t100\n1\t1\t6\t9\tx\n"
    cases["short_header"] = "PAGE\t0\t0\t100\n1\t1\t6\t9\tx\n"
    cases["bad_coord"] = head + "\n" + "\n".join(
        lines[:4] + ["1\tabc\t6\t9\tx"] + lines[4:]) + "\n"
    cases["exotic_floats"] = head + "\n" + "\n".join(
        lines[:6] + ["1e1\t+2.5E1\t 30\t45.\tx", "nan\t10\t20\t30\ty",
                     "inf\t10\t20\t30\tz", "1_0\t10\t20\t30\tw"]
        + lines[6:]) + "\n"
    cases["carriage_glyph"] = head + "\n" + "\n".join(
        lines[:6] + ["100\t100\t105\t108\t\r"] + lines[6:]) + "\n"
    return cases


def _arrays_repr(arrs: dict) -> str:
    return repr({k: np.asarray(v).tolist() for k, v in sorted(arrs.items())})


def _fields_repr(f) -> str:
    return repr([f.text.tolist(), f.x0.tolist(), f.y0.tolist(),
                 f.x1.tolist(), f.y1.tolist(), f.line_id.tolist()])


def _turn_repr(res) -> str:
    parts = [f"malformed={res.malformed} chars={res.n_chars} "
             f"fields={res.n_fields} tables={len(res.tables)}"]
    for t in res.tables:
        parts += [t.csv_text, repr(t.row_types), repr(t.col_types),
                  t.cells.to_csv(index=False), t.entries.to_csv(index=False),
                  t.stops.to_csv(index=False)]
    return "\x00".join(parts)


def _decoded_repr(dec) -> str:
    if isinstance(dec, MalformedPayload):
        return "malformed"
    page, arrs = dec
    return repr(page) + _arrays_repr(arrs)


def case_digests() -> dict[str, str]:
    cases = _cases()
    batch = decode_payload_batch(list(cases.values()))
    out = {}
    for (name, payload), dec in zip(cases.items(), batch):
        parts = [_decoded_repr(dec),
                 _decoded_repr(decode_payload_batch([payload])[0])]
        if not isinstance(dec, MalformedPayload):
            page, arrs = dec
            chars = cleanup_char_arrays(arrs, page)
            parts.append(_arrays_repr(chars))
            if len(chars["x0"]):
                parts.append(_fields_repr(
                    chars_to_field_arrays(chars, DEFAULT_CONFIG)))
            coords = np.concatenate([arrs[k] for k in ("x0", "y0", "x1",
                                                       "y1")])
            if len(arrs["x0"]) and np.isfinite(coords).all():
                # uncleaned: off-page boxes and unrounded coordinates
                parts.append(_fields_repr(
                    chars_to_field_arrays(arrs, DEFAULT_CONFIG)))
        for cfg in (DEFAULT_CONFIG, NEW_CFG):
            parts.append(_turn_repr(extract_turn(payload, cfg)))
            parts.append(_turn_repr(extract_turn(payload, cfg, light=True,
                                                 decoded=dec)))
        out[name] = hashlib.sha256(
            "\x01".join(parts).encode("utf-8", "surrogatepass")
        ).hexdigest()[:16]
    return out


PINNED = {
    "ordered_0": "bc659e787cc5af5c",
    "shuffled_0": "f30ac474cafb7190",
    "ordered_1": "6a88dfe50ec590c3",
    "shuffled_1": "d3fdf260b96f81ac",
    "ordered_2": "a3849461cee488c6",
    "shuffled_2": "a11557f23c4518f2",
    "ties": "e77a719fd20bf278",
    "ties_rowonly": "fe00862bf9d0d9ac",
    "glyphs": "b59aca5252d27724",
    "glyphs_ordered": "43e8c313165aa510",
    "empty_multiglyph": "fd69fa7fabe3adc5",
    "empty_multiglyph_pair": "fb673cc2e7894c70",
    "boxes": "c3e86aa4b62f8fae",
    "decimals": "7422a2f233b7b904",
    "decimals_small": "f1031c716a235f17",
    "negative": "01cd65a77d86d920",
    "signed_zero": "8cc057f20a9e6e6a",
    "wide": "6daa08dae70c23c7",
    "huge": "093fb628ba94b7fe",
    "ascii_separators": "930edba07c97ddc2",
    "blank_lines": "e46ed0ed6bd64c25",
    "no_trailing_newline": "e46ed0ed6bd64c25",
    "crlf": "f6720da70ddaf285",
    "ragged_balanced": "cefd4a73be06c2d8",
    "ragged_short": "cefd4a73be06c2d8",
    "header_only": "a3bbdbe1697daf69",
    "header_only_nl": "a3bbdbe1697daf69",
    "header_blank_body": "a3bbdbe1697daf69",
    "empty": "cefd4a73be06c2d8",
    "bad_tag": "cefd4a73be06c2d8",
    "bad_page": "cefd4a73be06c2d8",
    "short_header": "cefd4a73be06c2d8",
    "bad_coord": "cefd4a73be06c2d8",
    "exotic_floats": "763dc1cacef48f98",
    "carriage_glyph": "f2e09a8e10ab51a9",
}


@pytest.fixture(scope="module")
def computed():
    return case_digests()


def test_every_case_is_pinned(computed):
    assert sorted(computed) == sorted(PINNED)


@pytest.mark.parametrize("name", sorted(PINNED))
def test_front_end_matches_pinned_digest(computed, name):
    assert computed[name] == PINNED[name], (
        f"front-end outputs changed on {name!r}: computed {computed[name]}")


def test_field_texts_across_empty_and_multiglyph_fields():
    """A field's text is the join of its chars' texts in x order, also
    when an empty text and a two-glyph text fall in different fields
    and the join is as long as the texts are many."""
    chars = {"x0": np.array([50.0, 5.0, 55.0, 90.0, 95.0]),
             "y0": np.full(5, 10.0),
             "x1": np.array([55.0, 10.0, 60.0, 95.0, 100.0]),
             "y1": np.full(5, 18.0),
             "text": np.array(["ab", "", "c", "d", "e"], dtype=object)}
    f = chars_to_field_arrays(chars, DEFAULT_CONFIG)
    assert f.text.tolist() == ["abc", "de"]
    assert f.x0.tolist() == [50.0, 90.0]


def test_decode_does_not_depend_on_batch_neighbours():
    """Each payload decodes alone exactly as inside the batch of all
    cases, where ``bad_coord`` sends every body to the exact parser (a
    CRLF body once decoded ``M`` alone and ``M\\r`` in that batch)."""
    cases = _cases()
    batch = decode_payload_batch(list(cases.values()))
    differ = [name for (name, payload), dec in zip(cases.items(), batch)
              if _decoded_repr(decode_payload_batch([payload])[0])
              != _decoded_repr(dec)]
    assert differ == []


def test_arrow_column_decodes_like_list():
    """The kernel hands decode_payload_batch its Arrow text column: a
    sliced array (non-zero offset), a chunked one, large_string offsets
    and nulls (malformed) must decode as the list of str does."""
    import pyarrow as pa

    payloads = list(_cases().values())
    want = [_decoded_repr(d) for d in decode_payload_batch(payloads)]
    arr = pa.array([None] + payloads, pa.string())
    for col in (arr.slice(1), pa.chunked_array([arr.slice(1, 5),
                                                arr.slice(6)]),
                arr.slice(1).cast(pa.large_string())):
        assert [_decoded_repr(d) for d in decode_payload_batch(col)] == want
    nulls = decode_payload_batch(arr.slice(0, 2))
    assert _decoded_repr(nulls[0]) == "malformed"
    assert _decoded_repr(nulls[1]) == want[0]


if __name__ == "__main__":
    for k, v in case_digests().items():
        print(f'    "{k}": "{v}",')
