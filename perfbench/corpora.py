"""Seeded input generators for the benchmark workloads.

Every corpus is a function of the seed alone and is written as documents
parquet (doc_id, text, lang, source, n_chars) -- the schema the pipeline
reads -- so the program under test only ever sees generated files.  The
generators use numpy and pyarrow, never Spark, and run before any timed
window opens.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["de", "en", "es", "fr", "zh"])
VOCAB = np.array(
    ("the fast key order sort table scan merge part window small hash join "
     "batch stream spark dup group query row data slow filter customer line "
     "value agg column vector big a of to in and with for on by from at as "
     "is was are be this that it not or which an has had were will can all "
     "there their one more other also into over after before through where "
     "when while under between during without within along across against "
     "among around behind beyond upon toward river city garden market "
     "station bridge tower school street harbor valley forest mountain "
     "island castle museum library theater church palace square").split())

# kb_link dictionary titles are "Synth Page <id>" with five-digit ids, so
# no title is a substring of another and each planted name is detected
# exactly once; the KB (ids 0..SYNTH_ID0+n) is larger than the dictionary
SYNTH_ID0 = 10_000


def _words(rng: np.random.Generator, n_docs: int, n_words: int) -> list[str]:
    idx = rng.integers(0, len(VOCAB), size=(n_docs, n_words))
    return [" ".join(row) for row in VOCAB[idx]]


def _write(path: str, doc_id, texts: list[str], rng: np.random.Generator,
           source: str) -> None:
    doc_id = np.asarray(doc_id, dtype=np.int64)
    pq.write_table(pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), size=len(doc_id))],
        "source": [f"{source}{i % 7}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), path)


def heavy_pages(out_dir: str, seed: int, n_docs: int,
                n_sentences: int = 112, pool: int = 4000) -> str:
    """crawl_build corpus: ~7 kB pages of `n_sentences` filler sentences
    each, drawn from a seeded pool of 11-word sentences; the pipeline itself
    injects the fixture and "Berlin" skew sentences."""
    rng = np.random.default_rng([seed, 1])
    sentences = np.array(_words(rng, pool, 11), dtype=object)
    picks = rng.integers(0, pool, size=(n_docs, n_sentences))
    os.makedirs(out_dir, exist_ok=True)
    _write(f"{out_dir}/documents.parquet", np.arange(n_docs),
           [". ".join(row) for row in sentences[picks]], rng, "crawl")
    return out_dir


def zipf_titles(seed: int, n_titles: int, n_docs: int, per_doc: int,
                s: float = 1.1) -> np.ndarray:
    """(n_docs, per_doc) title ids drawn from a Zipf(s) law over a seeded
    permutation of the dictionary, so the hot titles differ per seed."""
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, n_titles + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    perm = rng.permutation(n_titles)
    draws = rng.choice(n_titles, size=(n_docs, per_doc), p=p)
    return SYNTH_ID0 + perm[draws]


def title_pages(out_dir: str, seed: int, n_docs: int, n_titles: int,
                per_doc: int = 4, n_words: int = 40) -> str:
    """kb_link corpus: short pages (a few hundred characters) naming
    `per_doc` dictionary titles each, Zipf-distributed."""
    rng = np.random.default_rng([seed, 3])
    ids = zipf_titles(seed, n_titles, n_docs, per_doc)
    filler = _words(rng, n_docs, n_words)
    texts = [f + ". " + ". ".join(f"Synth Page {t}" for t in row) + "."
             for f, row in zip(filler, ids)]
    os.makedirs(out_dir, exist_ok=True)
    _write(f"{out_dir}/documents.parquet", np.arange(n_docs), texts, rng,
           "kb")
    return out_dir


def dictionary(n_titles: int) -> list[tuple[str, str, str]]:
    """The kb_link gazetteer additions: one CONCEPT surface per title."""
    return [(f"Synth Page {i}", f"Synth Page {i}", "CONCEPT")
            for i in range(SYNTH_ID0, SYNTH_ID0 + n_titles)]

