"""Seeded crawl-page generator for the KG benchmark.

Pages are plain lowercase ASCII text.  About ``entity_share`` of the words
are entity tokens (five letters or more, which the mock extractor turns
into entities) drawn from a Zipf distribution over a ``vocab_size``-term
vocabulary; the rest are filler words of at most four letters, which the
extractor ignores.  A ``duplicate_fraction`` of pages repeat an earlier
page's text under a new url (content-hash dedup fodder).  Ingest batches
mix new pages with re-crawled pages: an earlier url with a few words
edited, so the page hashes to a new document.

Everything is derived from ``seed`` through one numpy Generator, so the
same seed and spec give byte-identical parquet files.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
_FILLER = [
    "the", "a", "of", "and", "in", "on", "at", "is", "was", "to", "for", "by",
    "with", "from", "as", "it", "its", "are", "be", "or", "an", "this", "that",
    "has", "had", "not", "but", "all", "new", "one", "two", "can", "may", "more",
]
_EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("page_order", pa.int64()),
    ]
)


@dataclass(frozen=True)
class CorpusSpec:
    """The input properties a workload varies."""

    vocab_size: int = 20_000
    zipf_exponent: float = 1.1
    min_words: int = 100
    max_words: int = 600
    entity_share: float = 0.5
    duplicate_fraction: float = 0.05
    # ingest only: share of each batch that re-crawls (edits) an earlier page
    recrawl_fraction: float = 0.3
    edit_words: int = 4


def vocabulary(n: int, rng: np.random.Generator) -> list[str]:
    """``n`` distinct pronounceable terms of 5 to 12 letters, seed-shuffled
    so the Zipf head differs between seeds."""
    terms: list[str] = []
    seen: set[str] = set()
    while len(terms) < n:
        k = int(rng.integers(3, 7))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            terms.append(w)
    return terms


class CorpusGenerator:
    """Draws pages, duplicates and re-crawls from one seeded stream."""

    def __init__(self, spec: CorpusSpec, seed: int):
        self.spec = spec
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.vocab = vocabulary(spec.vocab_size, self.rng)
        ranks = np.arange(1, spec.vocab_size + 1, dtype=np.float64)
        p = ranks ** -spec.zipf_exponent
        self._cdf = np.cumsum(p / p.sum())
        self.pages: list[dict] = []  # every page emitted so far, in order

    def _text(self, n: int) -> str:
        """``n`` words: Zipf-drawn entity terms mixed with filler."""
        s = self.spec
        is_ent = self.rng.random(n) < s.entity_share
        ents = np.searchsorted(self._cdf, self.rng.random(n), side="right")
        ents = np.minimum(ents, s.vocab_size - 1)
        fill = self.rng.integers(0, len(_FILLER), n)
        return " ".join(
            self.vocab[e] if m else _FILLER[f] for m, e, f in zip(is_ent, ents, fill)
        )

    def _emit(self, url: str, text: str) -> dict:
        order = len(self.pages)
        page = {"url": url, "text": text, "page_order": order}
        self.pages.append(page)
        return page

    def _url(self) -> str:
        site = int(self.rng.integers(0, 1000))
        return f"https://site{site:04d}.example/s{self.seed}/p{len(self.pages)}"

    def _recrawl(self) -> dict:
        src = self.pages[int(self.rng.integers(0, len(self.pages)))]
        words = src["text"].split(" ")
        for pos in self.rng.integers(0, len(words), self.spec.edit_words):
            e = int(np.searchsorted(self._cdf, self.rng.random(), side="right"))
            words[int(pos)] = self.vocab[min(e, self.spec.vocab_size - 1)]
        return self._emit(src["url"], " ".join(words))

    def batch(self, n: int, recrawl: bool = False) -> list[dict]:
        """``n`` pages: exactly round(``duplicate_fraction`` * n) duplicates
        and, with ``recrawl``, round(``recrawl_fraction`` * n) edited
        re-crawls of earlier pages, at seeded positions.  New pages take
        their lengths from an even grid over the word range, in seeded
        order, so every seed yields the same volume of new text and seeds
        differ only in content."""
        s = self.spec
        n_re = round(s.recrawl_fraction * n) if recrawl else 0
        n_dup = round(s.duplicate_fraction * n)
        kinds = np.array(["new"] * (n - n_re - n_dup) + ["dup"] * n_dup + ["re"] * n_re)
        kinds = kinds[self.rng.permutation(n)]
        if not self.pages and kinds[0] != "new":  # copies need an earlier page
            first_new = int(np.flatnonzero(kinds == "new")[0])
            kinds[[0, first_new]] = kinds[[first_new, 0]]
        n_new = int((kinds == "new").sum())
        grid = np.linspace(s.min_words, s.max_words, n_new).round().astype(int)
        lengths = iter(self.rng.permutation(grid))
        out = []
        for kind in kinds:
            if kind == "re":
                out.append(self._recrawl())
            elif kind == "dup":
                src = self.pages[int(self.rng.integers(0, len(self.pages)))]
                out.append(self._emit(self._url(), src["text"]))
            else:
                out.append(self._emit(self._url(), self._text(int(next(lengths)))))
        return out


def write_pages(pages: list[dict], path: str) -> None:
    """Write pages as one parquet file in the program's pages schema."""
    table = pa.table(
        {
            "url": [p["url"] for p in pages],
            "warc_ts": [_EPOCH_US + 1_000_000 * p["page_order"] for p in pages],
            "html": [f"<html><body><p>{p['text']}</p></body></html>".encode() for p in pages],
            "text": [p["text"] for p in pages],
            "lang": ["en"] * len(pages),
            "page_order": [p["page_order"] for p in pages],
        },
        schema=PAGES_ARROW_SCHEMA,
    )
    pq.write_table(table, path)


def oracle_docs(pages: list[dict]) -> list[dict]:
    """Pages -> the oracle's doc dicts, first page per text wins (the
    program's in-batch content-hash dedup; node and edge SETS do not depend
    on which copy is kept)."""
    from lightrag_spark.functions.hashing import compute_mdhash_id

    seen: set[str] = set()
    docs = []
    for p in pages:
        if p["text"] in seen:
            continue
        seen.add(p["text"])
        docs.append(
            {
                "doc_id": compute_mdhash_id(p["text"], prefix="doc-"),
                "text": p["text"],
                "file_path": p["url"],
                "doc_order": p["page_order"],
            }
        )
    return docs
