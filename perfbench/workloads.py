"""The benchmark workloads.  Each drives the engine's public functions
in a closed loop (one call at a time, each waiting for the previous)
and fills in its end-to-end metrics and, in a traced run, its
per-layer metrics.

Both workloads report the same end-to-end metrics:

- ``setup_s``: session start plus the time to prepare the corpus
  (read, parse, encode and persist);
- ``train_s``: wall time of the training calls of one pass, each at a
  fixed iteration count with ``converge=0``;
- ``final_perplexity``: exp(−ELBO/N) of the broadcast-mode LDA model
  after its last iteration;
- ``work_s``: wall time of the whole timed pass (on
  ``sf01_small_vocab`` this includes the registry headline pass);
- ``peak_worker_rss_mb``: peak summed RSS of the Spark Python workers;
- ``topic_recovery``: mean cosine between the broadcast-mode model's
  learned β and the generator's true β after a greedy one-to-one topic
  match.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import numpy as np

import gen_corpus
import gen_tables
from harness import Ledger, Tracer, median

HERE = os.path.dirname(os.path.abspath(__file__))
ELBO_TOL = 1e-9  # relative: ELBO non-decrease and cross-mode agreement


def _reference() -> dict:
    with open(os.path.join(HERE, "reference.json")) as fh:
        return json.load(fh)


def _e2e_bound(metric: str) -> float:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == metric)


@dataclass
class Run:
    spark: object
    tracer: Tracer
    ledger: Ledger
    seed: int
    seconds: float
    work_dir: str  # this workload's scratch files
    passes: int = 0
    e2e: dict = field(default_factory=dict)  # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # name -> (value, unit)
    trainings: list = field(default_factory=list)  # (layer prefix, span, iterations)

    def timed_passes(self, one_pass) -> None:
        """Run ``one_pass(i)`` until ``seconds`` have elapsed (at least
        once) and record the median pass wall time as ``work_s``."""
        walls, t_end = [], time.perf_counter() + self.seconds
        while True:
            t0 = time.perf_counter()
            one_pass(len(walls))
            walls.append(time.perf_counter() - t0)
            if time.perf_counter() >= t_end:
                self.passes = len(walls)
                self.e2e["work_s"] = (median(walls), "s")
                return

    def per_pass(self, span: str) -> float:
        return self.tracer.wall(span) / max(self.passes, 1)


# ------------------------------------------------------------ LDA helpers


def _raw_docs(run: Run, path: str):
    """sources: the raw ``title<TAB>body`` corpus with dense doc ids."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import parse
    from mr_lda_spark.sources.corpus import read_raw_corpus

    raw = read_raw_corpus(run.spark, path).persist()
    raw.count()
    titles = parse.build_title_index(raw, "title")
    docs = raw.join(titles, "title").select("doc_id", F.col("body").alias("text")).persist()
    docs.count()
    return docs


def _prepare_raw(run: Run, train_path: str) -> dict:
    """sources → parse: read the raw corpus, build the dictionary, encode
    and persist the corpus in tall and document form."""
    from mr_lda_spark.operators import parse

    tr = run.tracer
    with tr.span("sources.read_raw"):
        docs = _raw_docs(run, train_path)
    with tr.span("parse.dictionary"):
        tokens = parse.tokenize(docs)
        dictionary = parse.build_dictionary(
            parse.term_stats(tokens), docs.count()
        ).persist()
        num_terms = dictionary.count()
    with tr.span("parse.encode"):
        tall = parse.encode_corpus(tokens, dictionary).persist()
        doc = parse.corpus_to_doc_form(tall).persist()
        doc.count()
    return {"dictionary": dictionary, "num_terms": num_terms, "tall": tall, "doc": doc}


def _setup(run: Run, session_start_s: float, prepare) -> dict:
    """Prepare the corpus once; ``setup_s`` is session start plus this."""
    t0 = time.perf_counter()
    with run.ledger.step("read/parse"):
        corpus = prepare()
    run.e2e["setup_s"] = (session_start_s + time.perf_counter() - t0, "s")
    return corpus


def _check_history(run: Run, label: str, history: list) -> None:
    """The ELBO must not decrease from iteration 2 on."""
    bad = [
        i + 1 for i in range(1, len(history))
        if history[i] < history[i - 1] - ELBO_TOL * abs(history[i - 1])
    ]
    run.ledger.check(f"{label}.elbo_non_decreasing", not bad,
                     f"ELBO fell at iteration(s) {bad}: {history}")


def _check_gamma(run: Run, label: str, gamma_df) -> None:
    from pyspark.sql import functions as F

    bad = gamma_df.filter(
        F.col("gamma").isNull()
        | F.exists("gamma", lambda x: ~((x > 0) & (x < float("inf"))) | F.isnan(x))
    ).count()
    run.ledger.check(f"{label}.gamma_finite_positive", bad == 0,
                     f"{bad} documents with a non-finite or non-positive γ")


def topic_recovery(elog_beta: np.ndarray, term_words: dict, words: list,
                   true_beta: np.ndarray) -> float:
    """Mean cosine between learned and true topic-word vectors after a
    greedy one-to-one topic match (best remaining pair first)."""
    col = {w: i for i, w in enumerate(words)}
    K = elog_beta.shape[1]
    learned = np.zeros((K, len(words)))
    for term_id, w in term_words.items():
        learned[:, col[w]] = np.exp(elog_beta[term_id])
    learned /= learned.sum(axis=1, keepdims=True)
    a = learned / np.linalg.norm(learned, axis=1, keepdims=True)
    b = true_beta / np.linalg.norm(true_beta, axis=1, keepdims=True)
    cos = a @ b.T
    scores = []
    for _ in range(min(cos.shape)):
        i, j = np.unravel_index(np.argmax(cos), cos.shape)
        scores.append(cos[i, j])
        cos[i, :] = -np.inf
        cos[:, j] = -np.inf
    return float(np.mean(scores))


def _check_recovery(run: Run, name: str, value: float) -> None:
    floor = _reference()["topic_recovery"][name] * (1.0 - _e2e_bound("topic_recovery"))
    run.ledger.check(f"{name}.topic_recovery", value >= floor,
                     f"topic_recovery {value:.4f} < {floor:.4f}")
    run.e2e["topic_recovery"] = (value, "cosine")


def _term_words(dictionary) -> dict:
    return {r["term_id"]: r["term"] for r in dictionary.select("term_id", "term").collect()}


def kernel_probe(run: Run, doc, num_terms: int, num_topics: int,
                 max_gamma_iter: int) -> None:
    """Time ``plans.lda.numpy_sweep_backend``, called in this process, on
    one padded batch built as the E-step builds it: the documents of the
    partition that pads to the most cells (the E-step's straggler) under
    the trainer's ``repartition(defaultParallelism, doc_id)``, capped at
    the session's Arrow batch size."""
    from pyspark.sql import functions as F

    from mr_lda_spark.plans import lda

    spark = run.spark
    n_parts = spark.sparkContext.defaultParallelism
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    rows = (
        doc.repartition(n_parts, "doc_id")
        .select(F.spark_partition_id().alias("pid"), "term_ids", "term_counts")
        .collect()
    )
    parts: dict = {}
    for r in rows:
        parts.setdefault(r["pid"], []).append(r)
    cells = {
        p: len(rs[:batch]) * max(len(r["term_ids"]) for r in rs[:batch])
        for p, rs in parts.items()
    }
    docs = parts[max(cells, key=cells.get)][:batch]
    B = len(docs)
    lens = np.array([len(r["term_ids"]) for r in docs])
    n_max = int(lens.max())
    terms_pad = np.zeros((B, n_max), dtype=np.int64)
    counts_pad = np.zeros((B, n_max))
    for j, r in enumerate(docs):
        terms_pad[j, : lens[j]] = r["term_ids"]
        counts_pad[j, : lens[j]] = r["term_counts"]
    alpha = np.full(num_topics, 1.0 / num_topics)
    elb = lda.init_elog_beta(num_terms, num_topics, run.seed)[terms_pad]
    gamma = np.tile(alpha, (B, 1)) + counts_pad.sum(axis=1)[:, None] / num_topics
    t0 = time.perf_counter()
    lda.numpy_sweep_backend(elb, counts_pad, gamma, alpha, max_gamma_iter, 0.0)
    run.layers["kernel.sweep_s"] = (time.perf_counter() - t0, "s")
    run.layers["kernel.pad_efficiency"] = (float(lens.sum()) / (B * n_max), "ratio")
    run.layers["kernel.padded_mb"] = (elb.nbytes / (1024.0 * 1024.0), "MB")


TOP_TERMS = 20


def _infer_and_display(run: Run, infer, beta_tall, dictionary):
    """Held-out inference (``infer()`` returns the γ frame), then
    DisplayTopic (the top ``TOP_TERMS`` terms per topic) and
    DisplayDocument over that γ, both collected.  Returns the persisted
    γ."""
    from mr_lda_spark.operators import display

    tr, ledger = run.tracer, run.ledger
    with ledger.step("infer"), tr.span("infer"):
        gamma = infer().persist()
        n = gamma.count()
    with ledger.step("display"):
        with tr.span("display.topic"):
            top = display.top_terms_per_topic(beta_tall, dictionary, k=TOP_TERMS).collect()
        with tr.span("display.document"):
            docs = display.display_document(gamma).collect()
    ledger.check("display.rows", len(docs) == n and len(top) > 0,
                 f"{len(top)} topic rows, {len(docs)} of {n} documents")
    run.layers["infer.docs_per_s"] = (n / tr.last("infer"), "1/s")
    return gamma


# ------------------------------------------------------------ zipf_bcast

# Two EM iterations per training call in both workloads: with three, a
# round of 4 + 22 runs per workload no longer fits its time budget on a
# loaded 4-core host.
ZIPF_ITERS, ZIPF_GAMMA_ITER = 2, 15


def zipf_bcast(run: Run, session_start_s: float) -> None:
    """The generated Zipf corpus (D = 800, a 20,000-word vocabulary of
    which about 12k words occur, K = 20, heavy-tailed lengths)
    through the raw format → ``sources.corpus.read_raw_corpus`` → parse
    → ``plans.lda.train`` (broadcast β) → held-out ``plans.lda.infer`` →
    display."""
    from mr_lda_spark.operators import parse
    from mr_lda_spark.plans import lda

    spark, tr, ledger = run.spark, run.tracer, run.ledger
    K = gen_corpus.TOPICS
    truth = gen_corpus.generate(run.seed)
    lens = truth.train_lengths
    ledger.check("corpus.heavy_tail", lens.max() / np.median(lens) >= 10,
                 f"max/median length {lens.max() / np.median(lens):.1f}")
    train_path, heldout_path = gen_corpus.write(truth, os.path.join(run.work_dir, "corpus"))
    prepared = _setup(run, session_start_s, lambda: _prepare_raw(run, train_path))
    V, dictionary = prepared["num_terms"], prepared["dictionary"]
    with ledger.step("read/parse held-out"):
        held = _raw_docs(run, heldout_path)
        held_doc = parse.corpus_to_doc_form(
            parse.encode_corpus(parse.tokenize(held), dictionary)
        ).persist()
        held_doc.count()
    state = {}

    def one_pass(i):
        with ledger.step("train"), tr.span("lda.train"):
            final, st = lda.train(
                spark, prepared["doc"], num_terms=V, num_topics=K,
                max_iterations=ZIPF_ITERS, max_gamma_iter=ZIPF_GAMMA_ITER,
                converge=0.0, seed=run.seed,
            )
        gamma = _infer_and_display(
            run, lambda: lda.infer(spark, held_doc, st, max_gamma_iter=ZIPF_GAMMA_ITER),
            lda.beta_dataframe(spark, st), dictionary,
        )
        if i == 0:
            state.update(final=final, st=st, gamma=gamma)
        else:
            gamma.unpersist()

    run.timed_passes(one_pass)
    run.trainings.append(("lda", "lda.train", ZIPF_ITERS))
    st = state["st"]
    _lda_e2e(run, st)
    _check_history(run, "zipf.lda", st.history)
    _check_gamma(run, "zipf.train", state["final"])
    _check_gamma(run, "zipf.infer", state["gamma"])
    _check_recovery(run, "zipf_bcast", topic_recovery(
        st.elog_beta, _term_words(dictionary), truth.words, truth.beta))
    if tr.traced:
        kernel_probe(run, prepared["doc"], V, K, ZIPF_GAMMA_ITER)


def _lda_e2e(run: Run, st) -> None:
    run.e2e["train_s"] = (sum(run.per_pass(s) for _, s, _ in run.trainings), "s")
    run.e2e["final_perplexity"] = (st.perplexity_history[-1], "1")


# ------------------------------------------------------------ sf01_small_vocab

SMALL_DOCS, SMALL_TRUE_K = 5000, 8
SMALL_K, SMALL_ITERS, SMALL_GAMMA_ITER, JOIN_ITERS = 8, 2, 25, 1
POLY_LANGS, POLY_K, POLY_ITERS, POLY_GAMMA_ITER, POLY_DOCS = ["en", "es"], 4, 2, 15, 1500
REGISTRY_DATA_SEED = 42
# The workload seed draws the corpus; the models start from one fixed
# initialisation.  Over ten seeds and three EM iterations,
# topic_recovery spread 0.10 (IQR over median) with a start drawn from
# each seed, and 0.066 with this one.
SMALL_INIT_SEED = 7


def _prepare_small(run: Run, docs_dir: str) -> dict:
    """The ``documents`` table → parse, split 9:1 into train and
    held-out documents by doc id."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import parse
    from mr_lda_spark.session import read_table

    spark, tr = run.spark, run.tracer
    with tr.span("sources.read_raw"):
        docs = read_table(spark, docs_dir, "documents").persist()
        docs.count()
    train_docs = docs.filter(F.col("doc_id") % 10 != 0)
    with tr.span("parse.dictionary"):
        tokens = parse.tokenize(train_docs)
        dictionary = parse.build_dictionary(
            parse.term_stats(tokens), train_docs.count()
        ).persist()
        num_terms = dictionary.count()
    with tr.span("parse.encode"):
        tall = parse.encode_corpus(tokens, dictionary).persist()
        doc = parse.corpus_to_doc_form(tall).persist()
        doc.count()
        held_doc = parse.corpus_to_doc_form(
            parse.encode_corpus(parse.tokenize(docs.filter(F.col("doc_id") % 10 == 0)),
                                dictionary)
        ).persist()
        held_doc.count()
    return {
        "docs": docs, "dictionary": dictionary, "num_terms": num_terms, "tall": tall,
        "doc": doc, "held_doc": held_doc,
    }


def _prepare_poly(docs):
    """The en/es PolyLDA corpus, built as ``bench.py`` builds it:
    documents folded onto POLY_DOCS shared ids, one dictionary per
    language.  Returns (corpus, terms per language)."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import parse
    from mr_lda_spark.plans import polylda

    pdocs = docs.filter(F.col("lang").isin(POLY_LANGS)).withColumn(
        "poly_doc_id", F.col("doc_id") % POLY_DOCS
    )
    ptokens = parse.tokenize(pdocs, doc_id_col="poly_doc_id").join(
        pdocs.select(F.col("poly_doc_id").alias("doc_id"), "lang").distinct(),
        "doc_id",
    )
    lang_expr = F.lit(None).cast("int")
    for i, lang in enumerate(POLY_LANGS):
        lang_expr = F.when(F.col("lang") == lang, F.lit(i)).otherwise(lang_expr)
    ptokens = ptokens.withColumn("lang", lang_expr)
    pdicts = parse.build_dictionary_per_lang(ptokens).persist()
    ptall = (
        ptokens.groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .join(F.broadcast(pdicts.select("lang", "term", "term_id")), ["lang", "term"])
        .select("doc_id", "lang", "term_id",
                F.col("term_count").cast("int").alias("term_count"))
    )
    poly_doc = polylda.poly_corpus_from_tall(ptall, n_languages=len(POLY_LANGS)).persist()
    poly_doc.count()
    poly_terms = [
        r["n"] for r in pdicts.groupBy("lang").agg(F.count("*").alias("n"))
        .orderBy("lang").collect()
    ]
    return poly_doc, poly_terms


def _registry_pass(run: Run, sf_dir: str, rows: dict) -> None:
    """The 21 ``bench.HEADLINE`` queries, forced as ``bench.py`` forces
    them, with the registry caches cleared first as ``bench.py`` does
    per pass.  A failed query is counted and the pass goes on."""
    from bench import HEADLINE, NOOP_FORCE

    from mr_lda_spark import queries_registry

    queries_registry._PARSE_CACHE.clear()
    queries_registry._LDA_CACHE.clear()
    run.spark.catalog.clearCache()
    for q in HEADLINE:
        with run.ledger.step(q, fatal=False), run.tracer.span(f"registry.{q}"):
            df = queries_registry.QUERIES[q](run.spark, sf_dir)
            if q in NOOP_FORCE:
                df.write.format("noop").mode("overwrite").save()
            else:
                rows[q] = df.count()


def sf01_small_vocab(run: Run, session_start_s: float) -> None:
    """A 5,000-document, 31-word corpus in the test data's ``documents``
    layout (drawn from an LDA model, so topics can be scored) through
    parse → broadcast LDA (K = 8) → join-mode LDA (same corpus and seed)
    → PolyLDA (en/es, K = 4) → held-out infer → display, then the 21
    registry headline queries over generated tables at scale factor
    0.01 sizes.  Those tables come from a fixed data seed (42, like the
    shipped test data) so each query's row count is pinned."""
    from bench import HEADLINE

    from mr_lda_spark.plans import lda, lda_join, polylda

    spark, tr, ledger = run.spark, run.tracer, run.ledger
    rng = np.random.default_rng([run.seed, 31])
    frame, true_beta = gen_tables.small_vocab_documents(SMALL_DOCS, SMALL_TRUE_K, rng)
    docs_dir = gen_tables.write_tables({"documents": frame},
                                       os.path.join(run.work_dir, "small_vocab"))
    sf_dir = gen_tables.write_tables(gen_tables.tables(REGISTRY_DATA_SEED),
                                     os.path.join(run.work_dir, "tables"))
    prepared = _setup(run, session_start_s, lambda: _prepare_small(run, docs_dir))
    V, dictionary = prepared["num_terms"], prepared["dictionary"]
    with ledger.step("parse poly"):
        poly_doc, poly_terms = _prepare_poly(prepared["docs"])
    rows: dict = {}
    state = {}

    def one_pass(i):
        with ledger.step("train"), tr.span("lda.train"):
            final, st = lda.train(
                spark, prepared["doc"], num_terms=V, num_topics=SMALL_K,
                max_iterations=SMALL_ITERS, max_gamma_iter=SMALL_GAMMA_ITER,
                converge=0.0, seed=SMALL_INIT_SEED,
            )
        with ledger.step("train_join"), tr.span("lda_join.train"):
            _, jst = lda_join.train_beta_join(
                spark, prepared["tall"], num_terms=V, num_topics=SMALL_K,
                max_iterations=JOIN_ITERS, max_gamma_iter=SMALL_GAMMA_ITER,
                converge=0.0, seed=SMALL_INIT_SEED,
            )
        with ledger.step("train_poly"), tr.span("polylda.train"):
            _, pst = polylda.train_poly(
                spark, poly_doc, poly_terms, num_topics=POLY_K,
                max_iterations=POLY_ITERS, max_gamma_iter=POLY_GAMMA_ITER,
                converge=0.0, seed=SMALL_INIT_SEED,
            )
        gamma = _infer_and_display(
            run,
            lambda: lda.infer(spark, prepared["held_doc"], st,
                              max_gamma_iter=SMALL_GAMMA_ITER),
            lda.beta_dataframe(spark, st), dictionary,
        )
        if i == 0:
            state.update(final=final, st=st, jst=jst, pst=pst, gamma=gamma)
        else:
            gamma.unpersist()
        _registry_pass(run, sf_dir, rows)

    run.timed_passes(one_pass)
    run.trainings += [("lda", "lda.train", SMALL_ITERS),
                      ("lda_join", "lda_join.train", JOIN_ITERS),
                      ("polylda", "polylda.train", POLY_ITERS)]
    st = state["st"]
    _lda_e2e(run, st)
    _check_history(run, "sf01.lda", st.history)
    _check_history(run, "sf01.polylda", state["pst"].history)
    rel = max(abs(a - b) / abs(b) for a, b in zip(state["jst"].history, st.history))
    ledger.check("sf01.cross_mode_elbo", rel <= ELBO_TOL,
                 f"broadcast vs join ELBO differ by {rel:.3g} relative")
    _check_gamma(run, "sf01.train", state["final"])
    _check_gamma(run, "sf01.infer", state["gamma"])
    _check_recovery(run, "sf01_small_vocab", topic_recovery(
        st.elog_beta, _term_words(dictionary), gen_tables.WORDS, true_beta))
    expected = _reference()["registry_row_counts"]
    wrong = {q: (rows.get(q), n) for q, n in expected.items() if rows.get(q) != n}
    ledger.check("registry.row_counts", not wrong, f"(got, expected): {wrong}")
    for q in HEADLINE:
        run.layers[f"registry.{q}_s"] = (run.per_pass(f"registry.{q}"), "s")
    print("registry rows " + json.dumps(rows, sort_keys=True))
    if tr.traced:
        kernel_probe(run, prepared["doc"], V, SMALL_K, SMALL_GAMMA_ITER)


WORKLOADS = {"zipf_bcast": zipf_bcast, "sf01_small_vocab": sf01_small_vocab}
