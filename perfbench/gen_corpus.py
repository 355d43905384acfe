"""Deterministic LDA corpus generator for the ``zipf_bcast`` workload.

Draws a corpus from the LDA generative model with a known topic-word
matrix, so a trained model can be scored against the truth:

- a Zipf vocabulary: word ``v`` has base weight ``1 / (v + 1) ** ZIPF_S``,
  and word strings are assigned to ranks by a seeded permutation;
- a known sparse β: each topic keeps a random ``SUPPORT`` share of the
  vocabulary, weighted by the Zipf base weight times log-normal noise;
- Dirichlet(α) document-topic proportions θ;
- log-normal document lengths.  The lengths are a stratified sample
  (the log-normal quantiles at ``(i + 0.5) / D``, shuffled).

The model (word ranks, β and the order of the lengths) is drawn from
the fixed ``MODEL_SEED``, and the documents (θ and every token) from
the seed argument.  Seeds therefore vary the corpus while each document
keeps its length, so the padded E-step work and memory, which depend on
where the long documents fall, do not change from seed to seed.

Output is the reference raw format, one document per line
``title\\tw1 w2 ...`` (tokens shuffled within a document).  The same
seed always gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

N_DOCS, N_HELDOUT = 800, 200
VOCAB, TOPICS = 20_000, 20
ZIPF_S = 1.0
MEDIAN_LEN, SIGMA, MIN_LEN, MAX_LEN = 70.0, 1.0, 5, 5_000
ALPHA, SUPPORT = 0.1, 0.3
MODEL_SEED = 2012


@dataclass
class Corpus:
    words: list  # vocabulary strings, index = true word id
    beta: np.ndarray  # (K, V) true topic-word distributions
    train_lines: list  # "title\tbody" strings
    heldout_lines: list
    train_lengths: np.ndarray  # tokens per training document


def word_strings(n: int) -> list:
    """Distinct lowercase words: the base-26 spellings of 0..n-1."""
    out = []
    for i in range(n):
        x, s = i, []
        while True:
            s.append(_LETTERS[x % 26])
            x //= 26
            if x == 0:
                break
        out.append("".join(s))
    return out


def stratified_lengths(n: int, rng) -> np.ndarray:
    nd = NormalDist(mu=float(np.log(MEDIAN_LEN)), sigma=SIGMA)
    q = [nd.inv_cdf((i + 0.5) / n) for i in range(n)]
    lens = np.clip(np.rint(np.exp(q)), MIN_LEN, MAX_LEN).astype(np.int64)
    return rng.permutation(lens)


def true_beta(vocab: int, topics: int, rng) -> np.ndarray:
    V, K = vocab, topics
    base = 1.0 / np.arange(1, V + 1) ** ZIPF_S
    mask = rng.random((K, V)) < SUPPORT
    noise = np.exp(rng.normal(0.0, 1.5, size=(K, V)))
    beta = base[None, :] * noise * mask
    return beta / beta.sum(axis=1, keepdims=True)


def _docs(prefix: str, lengths, beta, words, rng) -> list:
    K = beta.shape[0]
    lines = []
    for i, n in enumerate(lengths):
        theta = rng.dirichlet(np.full(K, ALPHA))
        p = theta @ beta
        counts = rng.multinomial(int(n), p / p.sum())
        ids = rng.permutation(np.repeat(np.flatnonzero(counts), counts[counts > 0]))
        lines.append(f"{prefix}{i:07d}\t" + " ".join(words[j] for j in ids))
    return lines


def generate(seed: int, n_docs: int = N_DOCS, n_heldout: int = N_HELDOUT,
             vocab: int = VOCAB, topics: int = TOPICS) -> Corpus:
    model = np.random.default_rng([MODEL_SEED, 0])
    names = word_strings(vocab)
    # Word strings get Zipf ranks by a seeded permutation, so term ids
    # assigned by the parser never line up with the generator's ranks.
    words = [names[j] for j in model.permutation(vocab)]
    beta = true_beta(vocab, topics, model)
    train_len = stratified_lengths(n_docs, model)
    held_len = stratified_lengths(n_heldout, model)
    rng = np.random.default_rng([seed, 1])
    train = _docs(f"s{seed}-d", train_len, beta, words, rng)
    held = _docs(f"s{seed}-h", held_len, beta, words, rng)
    return Corpus(words, beta, train, held, train_len)


def write(corpus: Corpus, out_dir: str) -> tuple[str, str]:
    """Write ``train.txt`` and ``heldout.txt``; returns both paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, lines in (("train.txt", corpus.train_lines),
                        ("heldout.txt", corpus.heldout_lines)):
        path = os.path.join(out_dir, name)
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths[0], paths[1]
