"""Frozen output corpus: per-seed digests of the kernel's outputs.

The v2-v5 adversarial layout families (built exactly like
``tools/diff_sweep.py::_fields_for``) were swept against the reference
engine with zero divergences; this file pins the kernel's outputs on
those layouts so behaviour-preserving work can be checked without the
reference checkout.  Each (family, surface, seed) digest hashes every
table's CSV text, entries frame and stops frame of one turn.

Surfaces: ``newpath``, ``legacy`` and ``merge`` (newpath with
``merge_split_tables=True``).  Seeds 0-199 of every family, plus v4
seed 60268 (the one layout that pins the stale-key dict-slot rule on
the merge surface).

Regenerate the digest file (only after an intended behaviour change):

    python tests/test_output_corpus.py
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf2gtfs_spark.config import DEFAULT_CONFIG  # noqa: E402
from pdf2gtfs_spark.kernel.extract import extract_turn  # noqa: E402
from pdf2gtfs_spark.sources.transcripts import cells_to_payload  # noqa: E402

DIGEST_FILE = Path(__file__).parent / "data" / "output_corpus.txt"

FAMILIES = ("v2", "v3", "v4", "v5")
SURFACES = {
    "newpath": dataclasses.replace(DEFAULT_CONFIG, extraction_path="new"),
    "legacy": DEFAULT_CONFIG,
    "merge": dataclasses.replace(DEFAULT_CONFIG, extraction_path="new",
                                 merge_split_tables=True),
}
SEEDS = {f: list(range(200)) for f in FAMILIES}
SEEDS["v4"].append(60268)


def corpus_payload(family: str, seed: int) -> str:
    """The family's payload for one seed (diff_sweep ``_fields_for``)."""
    import test_ref_differential as mod

    rng = random.Random(seed)
    if family == "v2":
        return cells_to_payload(mod.TestAdversarialLayouts._layout(rng))
    if family == "v3":
        cls = mod.TestAdversarialLayoutsV3
        return cls._payload_sized(cls._layout(rng))
    if family == "v4":
        cls = mod.TestAdversarialLayoutsV4
        return cls._payload_cid(cls._layout(rng), rng)
    if family == "v5":
        return cells_to_payload(mod.TestAdversarialLayoutsV5._layout(rng))
    raise ValueError(f"unknown family {family!r}")


def turn_digest(payload: str, cfg) -> str:
    res = extract_turn(payload, cfg)
    h = hashlib.sha256(
        f"malformed={res.malformed} tables={len(res.tables)}\n".encode())
    for t in res.tables:
        for part in (t.csv_text, t.entries.to_csv(index=False),
                     t.stops.to_csv(index=False)):
            h.update(part.encode())
            h.update(b"\x00")
    return h.hexdigest()[:16]


def compute_corpus() -> dict[tuple[str, str, int], str]:
    out = {}
    for family in FAMILIES:
        for seed in SEEDS[family]:
            payload = corpus_payload(family, seed)
            for surface, cfg in SURFACES.items():
                out[(family, surface, seed)] = turn_digest(payload, cfg)
    return out


def read_digests(path: Path = DIGEST_FILE) -> dict:
    out = {}
    for line in path.read_text().splitlines():
        family, surface, seed, digest = line.split()
        out[(family, surface, int(seed))] = digest
    return out


def write_digests(digests: dict, path: Path = DIGEST_FILE) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("".join(f"{f} {s} {seed} {d}\n"
                            for (f, s, seed), d in digests.items()))


def first_mismatch(stored: dict, computed: dict):
    """First (family, surface, seed) whose digest differs or is missing
    on either side, in corpus order; None when the corpora agree."""
    for key in list(computed) + [k for k in stored if k not in computed]:
        if stored.get(key) != computed.get(key):
            return key
    return None


@pytest.fixture(scope="module")
def computed():
    return compute_corpus()


def test_corpus_matches_stored_digests(computed):
    stored = read_digests()
    bad = first_mismatch(stored, computed)
    assert bad is None, (
        f"output corpus mismatch at (family, surface, seed)={bad}: "
        f"stored={stored.get(bad)} computed={computed.get(bad)}")


def test_corpus_covers_every_family_surface_seed(computed):
    n = sum(len(s) for s in SEEDS.values()) * len(SURFACES)
    assert len(computed) == n == len(read_digests())


def test_one_character_digest_change_is_caught(computed):
    stored = read_digests()
    key = ("v4", "merge", 60268)
    d = stored[key]
    stored[key] = ("0" if d[0] != "0" else "1") + d[1:]
    assert first_mismatch(stored, computed) == key


if __name__ == "__main__":
    write_digests(compute_corpus())
    print(f"wrote {DIGEST_FILE}")
