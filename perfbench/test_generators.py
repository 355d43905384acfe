"""Checks of the benchmark's input generators (no Spark needed).

    python3 -m pytest -q -p no:cacheprovider perfbench/test_generators.py
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402
from workloads import topic_recovery  # noqa: E402


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_corpus_is_byte_identical_per_seed(tmp_path):
    a = gen_corpus.write(gen_corpus.generate(7), str(tmp_path / "a"))
    b = gen_corpus.write(gen_corpus.generate(7), str(tmp_path / "b"))
    c = gen_corpus.write(gen_corpus.generate(8), str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_corpus_shape():
    corpus = gen_corpus.generate(3)
    lens = corpus.train_lengths
    assert lens.max() / np.median(lens) >= 10
    assert len(corpus.train_lines) == gen_corpus.N_DOCS
    assert len(corpus.heldout_lines) == gen_corpus.N_HELDOUT
    assert corpus.beta.shape == (gen_corpus.TOPICS, gen_corpus.VOCAB)
    assert np.allclose(corpus.beta.sum(axis=1), 1.0)
    assert len(set(corpus.words)) == gen_corpus.VOCAB
    title, body = corpus.train_lines[0].split("\t")
    assert title and len(body.split()) == lens[0]


def test_tables_are_deterministic():
    a, b = gen_tables.tables(42), gen_tables.tables(42)
    for name in a:
        assert a[name].equals(b[name]), name
    docs = a["documents"]
    vocab = {w for t in docs["text"] for w in t.split()}
    assert vocab <= set(gen_tables.WORDS) | {gen_tables.DUP}


def test_topic_recovery_of_the_truth_is_one():
    corpus = gen_corpus.generate(1, n_docs=10, n_heldout=2, vocab=300, topics=4)
    term_words = {i + 1: w for i, w in enumerate(corpus.words)}
    elog = np.vstack([np.zeros(4), np.log(corpus.beta.T + 1e-300)])
    assert abs(topic_recovery(elog, term_words, corpus.words, corpus.beta) - 1.0) < 1e-9
