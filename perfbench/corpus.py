"""Seeded synthetic document corpora for the benchmark.

A corpus is a function of ``(seed, profile)`` alone: the same pair writes
byte-identical parquet. Profiles live in ``workloads.json``; their knobs are

* ``docs``: number of documents;
* ``filler``: what the non-gazetteer words are: ``dense`` (the stopwords
  "a" and "the") or ``web`` (a fixed 4,000-word Zipf vocabulary);
* ``gazetteer_density``: share of words drawn from the span gazetteer;
* ``punct_share``: share of words carrying punctuation or a clitic;
* ``words_median`` / ``words_sigma`` / ``words_min`` / ``words_max``:
  a log-normal words-per-document law, clipped (sigma sets the tail);
* ``dup_share``: share of documents that are injected near-duplicates of
  an earlier document (their pairs are returned for recall checks);
* ``dup_edit``: share of a near-duplicate's words that are rewritten.

The output schema is ``doc_id:string, text:string, lang:string,
source:string, n_chars:long``, which both ``load_documents`` and the
streaming source DDL accept. Ids are url-shaped strings, as in the
production input (a Common-Crawl url column): the streaming reader
declares ``doc_id string`` and fails on int64 ids.
"""

from __future__ import annotations

import os
from statistics import NormalDist
from typing import Dict, List, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The span gazetteer terms, fixed here so that a change to the program's
#: gazetteer cannot change the benchmark's inputs.
GAZETTEER_TERMS: Tuple[str, ...] = (
    "join", "filter", "sort", "scan", "merge", "agg", "hash", "group", "window",
    "table", "row", "column", "line", "part", "key", "value", "data",
    "query", "vector", "stream", "batch", "customer", "spark", "order",
    "fast", "slow", "small", "big", "dup",
)
DENSE_FILLER: Tuple[str, ...] = ("a", "the")
LANGS: Tuple[str, ...] = ("en", "de", "fr", "es", "zh")
LANG_WEIGHTS = np.array([0.5, 0.15, 0.12, 0.13, 0.10])
N_SOURCES = 20
N_HOSTS = 97

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

#: Punctuation forms of a word ``w``: trailing marks, clitics, quotes and
#: brackets, the cases the Treebank rule chain splits off.
_PUNCT_FORMS = (
    "{w},", "{w}.", "{w}'s", "{w}n't", '"{w}"', "({w})", "{w};", "{w}?",
    "{w}:", "{w}'ll", "{w}!", "{w}-{w}",
)

_VOCAB_SEED = 20261017


def web_vocabulary(size: int = 4000) -> List[str]:
    """A fixed made-up vocabulary (independent of the run seed), so corpora
    of different seeds share one word law."""
    rng = np.random.default_rng(_VOCAB_SEED)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    gaz = set(GAZETTEER_TERMS) | set(DENSE_FILLER)
    words: List[str] = []
    seen = set()
    while len(words) < size:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 11))))
        if w not in seen and w not in gaz:
            seen.add(w)
            words.append(w)
    return words


def _zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _doc_words(rng: np.random.Generator, n_words: int, profile: Dict, vocab) -> List[str]:
    gaz = np.array(GAZETTEER_TERMS)
    is_gaz = rng.random(n_words) < profile["gazetteer_density"]
    gaz_pick = gaz[rng.integers(0, len(gaz), n_words)]
    if vocab is None:
        filler = np.array(DENSE_FILLER)[rng.integers(0, len(DENSE_FILLER), n_words)]
    else:
        words, cdf = vocab
        filler = words[np.searchsorted(cdf, rng.random(n_words), side="right")]
    out = np.where(is_gaz, gaz_pick, filler).tolist()
    share = profile["punct_share"]
    if share > 0:
        marks = np.flatnonzero(rng.random(n_words) < share)
        forms = rng.integers(0, len(_PUNCT_FORMS), len(marks))
        for i, f in zip(marks.tolist(), forms.tolist()):
            out[i] = _PUNCT_FORMS[f].format(w=out[i])
    return out


def generate(seed: int, profile: Dict) -> Tuple[pa.Table, List[Tuple[str, str]]]:
    """Build the corpus table and the injected near-duplicate pairs
    ``(original doc_id, duplicate doc_id)``, sorted."""
    rng = np.random.default_rng([seed, profile["docs"]])
    n = int(profile["docs"])
    vocab = None
    if profile["filler"] == "web":
        words = web_vocabulary()
        cdf = np.cumsum(_zipf_weights(len(words)))
        cdf[-1] = 1.0
        vocab = (np.array(words), cdf)
    # document lengths are the n quantiles of the clipped log-normal law,
    # shuffled: every seed gets the same multiset of lengths, so corpora of
    # different seeds carry the same volume and only the text differs
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    lengths = np.clip(
        np.rint(profile["words_median"] * np.exp(profile["words_sigma"] * z)),
        profile["words_min"],
        profile["words_max"],
    ).astype(int)
    lengths = lengths[rng.permutation(n)]
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)]
    sources = rng.integers(0, N_SOURCES, n)
    hosts = rng.integers(0, N_HOSTS, n)
    is_dup = np.zeros(n, dtype=bool)
    n_dups = int(round(profile["dup_share"] * n))
    is_dup[1 + rng.choice(n - 1, size=n_dups, replace=False)] = True

    ids: List[str] = []
    texts: List[str] = []
    pairs: List[Tuple[str, str]] = []
    for i in range(n):
        doc_id = f"https://www.site{hosts[i]:02d}.example/{langs[i]}/doc-{seed}-{i:06d}.html"
        if is_dup[i]:
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            edits = np.flatnonzero(rng.random(len(words)) < profile["dup_edit"])
            fresh = _doc_words(rng, len(edits), profile, vocab)
            for k, w in zip(edits.tolist(), fresh):
                words[k] = w
            text = " ".join(words)
            pairs.append(tuple(sorted((ids[j], doc_id))))
        else:
            text = " ".join(_doc_words(rng, int(lengths[i]), profile, vocab))
        ids.append(doc_id)
        texts.append(text)
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{s}" for s in sources.tolist()],
            "n_chars": [len(t) for t in texts],
        },
        schema=SCHEMA,
    )
    return table, sorted(pairs)


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 16)


def write_corpus(seed: int, profile: Dict, root: str) -> Tuple[pa.Table, List[Tuple[str, str]]]:
    """Write ``<root>/documents.parquet`` (a one-file table, the shape
    ``load_documents`` reads) and return what ``generate`` returns."""
    table, pairs = generate(seed, profile)
    write_table(table, os.path.join(root, "documents.parquet"))
    return table, pairs


def split_drops(table: pa.Table, n_drops: int) -> Sequence[pa.Table]:
    """Contiguous slices of the corpus, one per streaming file drop."""
    bounds = np.linspace(0, table.num_rows, n_drops + 1).astype(int)
    return [table.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]
