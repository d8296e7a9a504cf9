"""The generators are pure functions of (seed, iteration).

Run with ``python3 -m pytest perfbench/test_gen.py -q``.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_corpus_same_seed_same_bytes(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a"), 7, 3, 300)
    b = gen.write_corpus(str(tmp_path / "b"), 7, 3, 300)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))


def test_corpus_other_seed_or_iteration_other_bytes(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), 7, 3, 300)
    gen.write_corpus(str(tmp_path / "b"), 8, 3, 300)
    gen.write_corpus(str(tmp_path / "c"), 7, 4, 300)
    base = _digest(str(tmp_path / "a"))
    for other in ("b", "c"):
        digest = _digest(str(tmp_path / other))
        assert all(digest[f] != base[f] for f in base)


def test_corpus_plants_near_duplicates(tmp_path):
    pairs = gen.write_corpus(str(tmp_path / "a"), 7, 3, 1000)
    texts, _ = gen.corpus_texts(7, 3, 1000)
    # about NEAR_DUP_SHARE of the docs, each its base plus the marker word
    assert 0.5 * gen.NEAR_DUP_SHARE * 1000 < len(pairs) < 1.5 * gen.NEAR_DUP_SHARE * 1000
    for base, copy in pairs:
        assert texts[copy] == f"{texts[base]} {gen.DUP_MARKER}"
    lengths = [len(t.split()) for i, t in enumerate(texts) if i not in {c for _, c in pairs}]
    assert gen.MIN_WORDS <= min(lengths) and max(lengths) <= gen.MAX_WORDS


def _stream(seed: int) -> list[list[dict]]:
    s = gen.ChangeStream(seed, domain=800, history=500)
    return [s.initial] + [s.batch(i, 100) for i in range(1, 4)]


def test_change_stream_same_seed_same_records():
    assert _stream(5) == _stream(5)


def test_change_stream_other_seed_other_records():
    assert _stream(5) != _stream(6)


def test_change_stream_expected_is_latest_per_key():
    s = gen.ChangeStream(5, domain=800, history=500)
    latest = {r["id"]: r for r in s.initial}
    assert all(0 <= k < 800 for k in latest)
    for i in range(1, 4):
        batch = s.batch(i, 100)
        for r in batch:
            latest[r["id"]] = r
    assert s.expected == {
        k: (r["ts"], r["amount"], r["name"], r["bucket"]) for k, r in latest.items()
    }


def test_events_feed_same_seed_same_bytes():
    assert gen.events_feed(7, 2) == gen.events_feed(7, 2)
    assert gen.events_feed(7, 2)[0] != gen.events_feed(8, 2)[0]
    assert gen.events_feed(7, 2)[0] != gen.events_feed(7, 3)[0]


def test_events_feed_row_kinds_in_equal_shares():
    feed, facts = gen.events_feed(7, 2)
    assert len(feed.splitlines()) - 1 == gen.EVENTS_PER_DAY
    share = gen.EVENTS_PER_DAY // len(gen.EVENT_KINDS)
    assert len(facts["paris"]) == share
    assert len(facts["survivors"]) == 3 * share
