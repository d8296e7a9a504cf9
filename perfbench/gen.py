"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, iteration)``: the same pair
gives byte-identical files, a different pair gives different ones. Nothing
here imports Spark, so inputs are staged before the timed region starts.

- :func:`write_corpus` writes one ``documents.parquet`` + ``embeddings.parquet``
  corpus directory with planted near duplicates.
- :class:`ChangeStream` produces keyed change batches for the CDC workload
  and keeps the expected latest-per-key state.
- :func:`events_feed` gives one day of the events chain's HTTP feed as
  bytes, with the facts the chain must reproduce.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus shape, taken from the documents and embeddings tables the query
# family's oracle tests and bench.py read (the sf0.001 and sf0.1 test
# corpora; sf0.1: 5000 documents, 2000 vectors):
# - the same 30-word vocabulary, and a length uniform on 10..100 words;
# - 5% of documents (250 of 5000) are near duplicates: an earlier
#   document, picked uniformly, with the word "dup" appended. Two copies of
#   one document are exact duplicates of each other (8 of 5000), and a copy
#   of a copy extends a chain (3 of 5000); both arise here the same way;
# - language shares 0.4 en and 0.15 for each other language, 20 sources;
# - vectors are independent Gaussian directions with no planted
#   duplicates (the closest earlier vector has cosine 0.34 at the median
#   and 0.60 at most), 10 labels, 0.4 vectors per document.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_MARKER = "dup"
NEAR_DUP_SHARE = 0.05
MIN_WORDS, MAX_WORDS = 10, 100
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DIM = 64
N_LABELS = 10
VECS_PER_DOC = 0.4


def _rng(seed: int, iteration: int, stream: str) -> np.random.Generator:
    tag = sum(ord(c) << (8 * (i % 4)) for i, c in enumerate(stream))
    return np.random.default_rng([seed, iteration, tag])


def _write_table(table: pa.Table, path: str) -> None:
    # one row group and no writer-dependent metadata: same seed, same bytes
    pq.write_table(table, path, compression="zstd", store_schema=False)


def corpus_texts(seed: int, iteration: int, n_docs: int) -> tuple[list[str], list[tuple[int, int]]]:
    """Texts with planted near duplicates; returns (texts, near_dup_pairs).

    A near duplicate copies an earlier text, picked uniformly, and appends
    the marker word. ``near_dup_pairs`` lists ``(base_doc_id, copy_doc_id)``."""
    rng = _rng(seed, iteration, "docs")
    texts: list[str] = []
    pairs: list[tuple[int, int]] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            base = int(rng.integers(0, i))
            texts.append(f"{texts[base]} {DUP_MARKER}")
            pairs.append((base, i))
            continue
        n_words = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    return texts, pairs


def corpus_vectors(seed: int, iteration: int, n_vecs: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit-norm float32 vectors and integer labels."""
    rng = _rng(seed, iteration, "vecs")
    vecs = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    return vecs, labels


def write_corpus(out_dir: str, seed: int, iteration: int, n_docs: int) -> list[tuple[int, int]]:
    """Write one corpus directory; returns the planted near-dup pairs."""
    os.makedirs(out_dir, exist_ok=True)
    n_vecs = int(round(n_docs * VECS_PER_DOC))
    texts, pairs = corpus_texts(seed, iteration, n_docs)
    rng = _rng(seed, iteration, "meta")
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    sources = rng.integers(0, N_SOURCES, n_docs)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([str(x) for x in langs], pa.string()),
            "source": pa.array([f"src{s}" for s in sources], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write_table(docs, os.path.join(out_dir, "documents.parquet"))
    vecs, labels = corpus_vectors(seed, iteration, n_vecs)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1)), DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    _write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return pairs


# --- CDC change stream -------------------------------------------------------

# Key process of the events table that streaming_upsert_topic replays
# (sf0.1: 100000 events over 1500 users). Each record's key is drawn
# uniformly from a fixed domain: an update's key, ranked by first
# appearance among the live keys, sits at quantiles 0.25 / 0.47 / 0.75,
# so there is no recency skew. A record inserts when its key is not live
# yet. Sizes follow tools/make_scaled_data.py's sf1 (every key domain
# x10): 15000 keys; the initial table is the state after the sf1 replay
# sample (1% of events: 10000 records), and a batch is the sf0.1 replay
# sample's 1000 records. Inserts are then about half of a batch, as in the
# last tenth of the sf0.1 replay sample (50%).
CDC_KEY_DOMAIN = 15_000
CDC_HISTORY = 10_000
CDC_BATCH = 1_000


class ChangeStream:
    """Keyed change records ``{id, ts, amount, name, bucket}``.

    ``ts`` is a strictly increasing logical clock, so the latest record per
    key is unambiguous; :attr:`expected` holds that state for the output
    check, and :attr:`initial` the table's initial rows."""

    def __init__(self, seed: int, domain: int = CDC_KEY_DOMAIN, history: int = CDC_HISTORY):
        self.seed = seed
        self.domain = domain
        self.clock = 0
        self.expected: dict[int, tuple] = {}
        self._records(0, history)
        self.initial = [
            {"id": k, "ts": v[0], "amount": v[1], "name": v[2], "bucket": v[3]}
            for k, v in sorted(self.expected.items())
        ]

    def _records(self, batch: int, size: int) -> list[dict]:
        rng = _rng(self.seed, batch, "cdc")
        keys = rng.integers(0, self.domain, size)
        amounts = rng.uniform(0, 1000, size)
        names = rng.integers(0, 1 << 20, size)
        buckets = rng.integers(0, 16, size)
        out = []
        for k, a, n, b in zip(keys, amounts, names, buckets):
            self.clock += 1
            rec = {
                "id": int(k),
                "ts": self.clock,
                "amount": round(float(a), 2),
                "name": f"n{int(n):06x}",
                "bucket": int(b),
            }
            self.expected[rec["id"]] = (rec["ts"], rec["amount"], rec["name"], rec["bucket"])
            out.append(rec)
        return out

    def batch(self, batch: int, size: int = CDC_BATCH) -> list[dict]:
        """Change batch number ``batch`` (1-based); a key may repeat within
        a batch."""
        return self._records(batch, size)


# --- events chain feeds -------------------------------------------------------

# One day of the events feed. The row mix repeats the five kinds of
# the events chain's golden fixture (tests/test_pipelines.py EVENTS_CSV) in
# equal shares: a future Paris event, one without occurrences (dropped), a
# past one (dropped), one outside Paris with an unmapped category and price,
# and a Paris one whose postcode maps to no arrondissement. A day has 100
# rows, the reference's daily delta ("daily deltas ~100 rows", SURVEY.md
# section 6).
EVENT_KINDS = ("paris", "no_occurrences", "past", "outside", "unmapped_postcode")
EVENTS_PER_DAY = 100
EVENTS_HEADER = (
    "Titre;Occurrences;Description;Coordonnées géographiques;Date de début;"
    "Date de fin;Ville;Code postal;Adresse du lieu;Catégorie;Type de prix"
)
# the events chain's pinned "today"; every generated event is after it
# except the past kind
EVENTS_TODAY = "2026-01-01"
_PARIS_CATEGORIES = ("Concerts -> Rock", "Concerts -> Jazz", "Spectacles -> Danse",
                     "Expositions -> Street-art")


def _day_titles(seed: int, day: int) -> list[tuple[str, str]]:
    """(title, kind) of one day's events, kinds in equal shares."""
    rng = _rng(seed, day, "events")
    kinds = [EVENT_KINDS[i % len(EVENT_KINDS)] for i in range(EVENTS_PER_DAY)]
    order = rng.permutation(EVENTS_PER_DAY)
    return [(f"Event {seed}-{day}-{int(i):03d}", kinds[int(i)]) for i in order]


def events_feed(seed: int, day: int) -> tuple[bytes, dict]:
    """The day's events CSV and the facts the chain must reproduce:
    ``survivors`` (titles kept by process_events) and ``paris`` (titles
    that map to an arrondissement)."""
    rng = _rng(seed, day, "event-rows")
    lines = [EVENTS_HEADER]
    survivors, paris = [], []
    for title, kind in _day_titles(seed, day):
        month = int(rng.integers(2, 13))
        d0 = int(rng.integers(1, 27))
        n_occ = int(rng.integers(1, 4))
        dates = [f"2026-{month:02d}-{d0 + k:02d}" for k in range(n_occ)]
        if kind == "past":
            dates = [f"2025-{month:02d}-{d0 + k:02d}" for k in range(n_occ)]
        occ = ";".join(f"{x}T20:00:00+02:00" for x in dates)
        occ_field = "" if kind == "no_occurrences" else f'"{occ}"'
        street = f"{int(rng.integers(1, 200))} Rue {VOCAB[int(rng.integers(0, len(VOCAB)))]}"
        if kind == "outside":
            ville, cp, cat, price = "Pantin", "93500", "Autre -> Chose", "autre"
        else:
            ville = "Paris"
            cp = "75099" if kind == "unmapped_postcode" else f"750{int(rng.integers(1, 21)):02d}"
            cat = _PARIS_CATEGORIES[int(rng.integers(0, len(_PARIS_CATEGORIES)))]
            price = ("gratuit", "payant")[int(rng.integers(0, 2))]
        video = int(rng.integers(0, 1 << 16))
        desc = (f'"intro<div class=""component-x""><iframe src=""https://www.youtube.com/embed/'
                f'{video:04x}?feature=oembed""></iframe></div></div>"')
        lat, lon = 48.8 + float(rng.uniform(0, 0.1)), 2.3 + float(rng.uniform(0, 0.1))
        lines.append(
            f"{title};{occ_field};{desc};{lat:.4f},{lon:.4f};{dates[0]}T20:00:00+02:00;"
            f"{dates[-1]}T22:00:00+02:00;{ville};{cp};{street};{cat};{price}"
        )
        if kind in ("paris", "outside", "unmapped_postcode"):
            survivors.append(title)
        if kind == "paris":
            paris.append(title)
    body = "\r\n".join(lines).encode("utf-8")
    return body, {"survivors": sorted(survivors), "paris": sorted(paris)}
