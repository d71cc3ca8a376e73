"""Property-based text-operator correctness: the distributed BM25 scorer
must match a pure-python reference on arbitrary corpora — not just the
fixed documents fixture."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_BM25_VOCAB = ["merge", "join", "dup", "scan", "sort", "key"]
_bm25_doc = st.lists(st.sampled_from(_BM25_VOCAB), min_size=1, max_size=12)
_bm25_corpus = st.lists(_bm25_doc, min_size=1, max_size=8)


def _bm25_py(corpus, terms=("merge", "join", "dup"), k1=1.2, b=0.75):
    import math

    n = len(corpus)
    avgdl = sum(len(d) for d in corpus) / n
    df = {
        t: sum(1 for d in corpus if t in d) for t in terms
    }
    out = {}
    for doc_id, d in enumerate(corpus):
        score = 0.0
        hit = False
        for t in terms:
            tf = d.count(t)
            if tf == 0:
                continue
            hit = True
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            score += idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * len(d) / avgdl)
            )
        if hit:
            out[doc_id] = round(score + 1e-9, 6)
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_bm25_corpus)
def test_bm25_matches_python_reference(spark, corpus):
    from data_warehouse_product_mix_clustering_spark.plans.text import bm25_scores_df

    docs = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(corpus)], "doc_id long, text string"
    )
    got = {r.doc_id: r.bm25 for r in bm25_scores_df(docs).collect()}
    want = _bm25_py(corpus)
    assert set(got) == set(want), f"doc sets differ: {got} vs {want}"
    for doc_id, w in want.items():
        assert abs(got[doc_id] - w) <= 1e-6, (doc_id, got[doc_id], w)


def test_weighted_sample_draw_is_engine_identical(spark):
    """The hash-fraction draw and sample key must match DuckDB bit-for-bit
    across a weight range that includes tiny weights (which amplify any
    arithmetic-mode divergence — the DECIMAL-vs-DOUBLE trap this pins)."""
    import duckdb

    import pyspark.sql.functions as F

    from data_warehouse_product_mix_clustering_spark.plans.sql_api import _WEIGHTED_SAMPLE_SQL

    sql = _WEIGHTED_SAMPLE_SQL.replace("LIMIT 50", "")
    n = 20000
    spark.range(0, n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 997 + 1).alias("n_chars")
    ).createOrReplaceTempView("documents")
    got = spark.sql(sql).toPandas().sort_values("doc_id", ignore_index=True)
    spark.catalog.dropTempView("documents")

    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE documents AS SELECT range AS doc_id, "
        f"range % 997 + 1 AS n_chars FROM range({n})"
    )
    want = con.sql(sql).df().sort_values("doc_id", ignore_index=True)
    mism = (
        got["sample_key"].astype(float).values
        != want["sample_key"].astype(float).values
    ).sum()
    assert mism == 0, f"{mism} of {n} sample keys diverge between engines"


# --- span scrub: distributed coverage-window rule vs python reference ---

_SCRUB_VOCAB = ["a", "b", "c", "d"]
_scrub_doc = st.lists(st.sampled_from(_SCRUB_VOCAB), min_size=0, max_size=20)
_scrub_corpus = st.lists(_scrub_doc, min_size=1, max_size=6)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_scrub_corpus, data=st.data())
def test_scrub_spans_matches_python_reference(spark, corpus, data):
    """operators/dedup.py::scrub_spans ≡ scrub_spans_py on arbitrary
    token streams with n=3 spans drawn FROM the corpus (so hits overlap
    and abut adversarially — the 4-symbol vocabulary makes repeated and
    chained n-grams common). Pins the union-of-intervals coalescing
    rule, boundary behavior (spans at position 0 / end-of-doc), and
    short docs (< n tokens ⇒ no hits possible)."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.dedup import scrub_spans, scrub_spans_py

    n = 3
    grams = sorted(
        {
            " ".join(d[i : i + n])
            for d in corpus
            for i in range(len(d) - n + 1)
        }
    )
    spans = set(
        data.draw(
            st.lists(st.sampled_from(grams), max_size=3, unique=True)
            if grams
            else st.just([])
        )
    )
    toks = spark.createDataFrame(
        [(i, d) for i, d in enumerate(corpus)], "doc_id long, t array<string>"
    )
    spans_df = spark.createDataFrame(
        [(s,) for s in sorted(spans)], "shingle string"
    )
    got = {
        r.doc_id: (r.n_removed_tokens, r.n_removed_chars, r.scrubbed_text)
        for r in scrub_spans(toks, spans_df, "doc_id", n).collect()
    }
    for i, d in enumerate(corpus):
        if not d:
            # zero-token docs are ABSENT from the output (inner
            # posexplode — same drop semantics as the oracle's unnest)
            assert i not in got
        else:
            assert got[i] == scrub_spans_py(d, spans, n), (i, d, spans, got[i])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_scrub_corpus, data=st.data())
def test_scrub_spans_keep_first_matches_python_reference(spark, corpus, data):
    """The keeper path (C4 keep-first-occurrence, used by
    training_corpus_scrubbed): a span is NOT scrubbed from its keeper
    doc. Equivalent per doc i to plain scrubbing with the span set
    restricted to spans whose keeper is not i — which reduces the keeper
    path to the already-pinned scrub_spans_py rule."""
    from data_warehouse_product_mix_clustering_spark.operators.dedup import scrub_spans, scrub_spans_py

    n = 3
    first_holder: dict[str, int] = {}
    for i, d in enumerate(corpus):
        for j in range(len(d) - n + 1):
            first_holder.setdefault(" ".join(d[j : j + n]), i)
    grams = sorted(first_holder)
    spans = set(
        data.draw(
            st.lists(st.sampled_from(grams), max_size=3, unique=True)
            if grams
            else st.just([])
        )
    )
    # some spans get a NULL keeper = scrub-everywhere (no exempted doc)
    null_keeper = {
        s for s in spans if data.draw(st.booleans(), label=f"null_keeper:{s}")
    }
    keeper = {s: (None if s in null_keeper else first_holder[s]) for s in spans}
    toks = spark.createDataFrame(
        [(i, d) for i, d in enumerate(corpus)], "doc_id long, t array<string>"
    )
    spans_df = spark.createDataFrame(
        [(s, keeper[s]) for s in sorted(spans)],
        "shingle string, keeper long",
    )
    got = {
        r.doc_id: (r.n_removed_tokens, r.n_removed_chars, r.scrubbed_text)
        for r in scrub_spans(toks, spans_df, "doc_id", n).collect()
    }
    for i, d in enumerate(corpus):
        if not d:
            assert i not in got
        else:
            eff = {s for s in spans if keeper[s] is None or keeper[s] != i}
            assert got[i] == scrub_spans_py(d, eff, n), (i, d, spans, got[i])


# --- persisted MinHash index: maintained ≡ rebuild over random CDC ---

_MH_VOCAB = ["alpha", "beta", "gamma", "delta", "eps"]
_mh_text = st.lists(st.sampled_from(_MH_VOCAB), min_size=0, max_size=10).map(
    " ".join
)


@pytest.mark.heavy_sweep
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(_mh_text, min_size=1, max_size=8),
    adds=st.lists(_mh_text, max_size=4),
    data=st.data(),
)
def test_update_minhash_index_equals_rebuild(spark, tmp_path_factory, base, adds, data):
    """update_minhash_index ≡ build_minhash_index on the updated corpus
    for RANDOM CDC batches — random removals, random text edits
    (including edits to/from the empty string, which has NO signature
    rows), random adds, duplicate texts across ids. The single-scenario
    audit pins one path; this pins the algebra."""
    import os

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.dedup import (
        build_minhash_index,
        update_minhash_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    ids = list(range(len(base)))
    removed = set(data.draw(st.lists(st.sampled_from(ids), max_size=3, unique=True)))
    survivors = [i for i in ids if i not in removed]
    changed = set(
        data.draw(st.lists(st.sampled_from(survivors), max_size=3, unique=True))
        if survivors
        else []
    )
    new_rows = [(i, t) for i, t in enumerate(base) if i not in removed]
    new_rows = [
        (i, (t + " changedtok").strip() if i in changed else t) for i, t in new_rows
    ]
    new_rows += [(100 + j, t) for j, t in enumerate(adds)]

    root = str(tmp_path_factory.mktemp("mhprop"))
    tdir = os.path.join(root, "t")
    write_version(
        spark.createDataFrame(list(enumerate(base)), "doc_id long, text string"), tdir
    )
    write_version(
        spark.createDataFrame(new_rows, "doc_id long, text string"), tdir
    )
    idx = os.path.join(root, "idx")
    build_minhash_index(
        spark.createDataFrame(list(enumerate(base)), "doc_id long, text string"),
        idx, num_hashes=8, bands=4, n_buckets=16,
    )
    update_minhash_index(
        spark, idx, version_diff(spark, tdir, 0, 1, key=["doc_id"])
    )
    idx2 = os.path.join(root, "idx2")
    build_minhash_index(
        spark.createDataFrame(new_rows, "doc_id long, text string"),
        idx2, num_hashes=8, bands=4, n_buckets=16,
    )
    from data_warehouse_product_mix_clustering_spark.operators.dedup import read_minhash_buckets

    a = read_minhash_buckets(spark, idx).select("doc_id", "band", "key", "pbucket")
    b = read_minhash_buckets(spark, idx2).select("doc_id", "band", "key", "pbucket")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), (
        base, removed, changed, adds,
        sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect())),
    )


# --- BPE training: distributed merge induction vs python reference ---

_bpe_word = st.text(alphabet="abcd", min_size=1, max_size=6)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.dictionaries(_bpe_word, st.integers(1, 9), min_size=1, max_size=12),
    n_merges=st.integers(1, 5),
)
def test_train_bpe_matches_python_reference(spark, words, n_merges):
    """operators/bpe.py::train_bpe ≡ train_bpe_py on arbitrary word-count
    relations: same merge sequence, same pair spellings, same weighted
    counts — pins the greedy left-to-right non-overlapping merge rule,
    the (count desc, pair asc) tie-break, and early stop when every word
    is fully merged (single chars exhaust pairs)."""
    from data_warehouse_product_mix_clustering_spark.operators.bpe import train_bpe, train_bpe_py

    vocab = spark.createDataFrame(
        [(w, c) for w, c in sorted(words.items())], "word string, count long"
    )
    assert train_bpe(vocab, n_merges) == train_bpe_py(words, n_merges)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.dictionaries(
        st.text(alphabet="abcd", min_size=0, max_size=6),  # INCLUDES ''
        st.integers(1, 9),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(1, 4),
)
def test_encode_words_matches_python_reference(spark, words, n_merges):
    """operators/bpe.py::encode_words ≡ encode_py per word for a merge
    table trained on the same vocabulary — including EMPTY words (the
    sequence(1,0)-counts-down path the review caught crashing the
    un-gated fold) and fully-merged single-char words."""
    from data_warehouse_product_mix_clustering_spark.operators.bpe import (
        encode_py,
        encode_words,
        train_bpe_py,
    )

    vocab = spark.createDataFrame(
        [(w, c) for w, c in sorted(words.items())], "word string, count long"
    )
    merges = train_bpe_py(words, n_merges)
    got = {
        r["word"]: list(r["bpe_syms"])
        for r in encode_words(vocab, merges).collect()
    }
    assert set(got) == set(words)
    for w in words:
        assert got[w] == encode_py(w, merges), (w, merges, got[w])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=4), max_size=6
        ).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    n_merges=st.integers(0, 4),
)
def test_bpe_token_counts_matches_python_reference(spark, corpus, n_merges):
    """bpe_token_counts ≡ per-doc sum of encode_py lengths over the
    pre-tokenization — incl. empty docs (present with zero counts) and
    an empty merge table (counts degenerate to characters)."""
    import re

    from data_warehouse_product_mix_clustering_spark.functions.text import BPE_PATTERN
    from data_warehouse_product_mix_clustering_spark.operators.bpe import (
        bpe_token_counts,
        encode_py,
        train_bpe_py,
    )

    pretok = [re.findall(BPE_PATTERN, t.lower()) for t in corpus]
    counts: dict[str, int] = {}
    for ws in pretok:
        for w in ws:
            counts[w] = counts.get(w, 0) + 1
    merges = train_bpe_py(counts, n_merges) if counts else []
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe_token_counts(docs, merges).collect()
    }
    for i, ws in enumerate(pretok):
        want = (len(ws), sum(len(encode_py(w, merges)) for w in ws))
        assert got[i] == want, (i, corpus[i], merges, got[i], want)


# --- unigram LM perplexity proxy vs python reference ---


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), max_size=12
        ),
        min_size=1,
        max_size=8,
    )
)
def test_unigram_logprob_matches_python_reference(spark, corpus):
    """operators/lm.py self-scored path ≡ the python twin on arbitrary
    corpora — pins the smoothing formula, the log base, the rounded
    mean, and the empty-doc drop rule."""
    from data_warehouse_product_mix_clustering_spark.operators.lm import (
        unigram_logprob_py,
        unigram_logprob_scores,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(corpus)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
        for r in unigram_logprob_scores(docs).collect()
    }
    want = unigram_logprob_py({i: d for i, d in enumerate(corpus)})
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        assert abs(got[i][1] - want[i][1]) <= 1e-6, (i, got[i], want[i])


def test_unigram_logprob_cross_corpus_oov_floor(spark):
    """External-LM path: unseen words take the LM's minimum logp floor;
    a doc of only OOV words scores exactly -floor."""
    from data_warehouse_product_mix_clustering_spark.operators.lm import (
        unigram_lm,
        unigram_logprob_scores,
    )

    ref = spark.createDataFrame(
        [(0, "aa aa bb")], "doc_id long, text string"
    )
    lm = unigram_lm(ref)
    floor = min(r["logp"] for r in lm.collect())
    target = spark.createDataFrame(
        [(1, "zz zz"), (2, "aa zz")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["bits_per_token"]
        for r in unigram_logprob_scores(target, lm=lm).collect()
    }
    assert abs(got[1] - round(-floor + 1e-9, 6)) <= 1e-6
    assert got[2] < got[1]  # one in-vocab word must lower the bits


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), max_size=12
        ),
        min_size=1,
        max_size=8,
    )
)
def test_bigram_logprob_matches_python_reference(spark, corpus):
    """operators/lm.py bigram self-scored path ≡ the python twin on
    arbitrary corpora — pins the conditional-probability smoothing
    (c(w1,w2)+a over c(w1·)+a·V with V the FULL unigram vocabulary),
    the transition extraction (adjacent pairs, document order, repeats
    kept), the rounded mean, and the <2-token drop rule."""
    from data_warehouse_product_mix_clustering_spark.operators.lm import (
        bigram_logprob_py,
        bigram_logprob_scores,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(corpus)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_transitions"], r["bits_per_token"])
        for r in bigram_logprob_scores(docs).collect()
    }
    want = bigram_logprob_py({i: d for i, d in enumerate(corpus)})
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        assert abs(got[i][1] - want[i][1]) <= 1e-6, (i, got[i], want[i])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "fr"]),
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), max_size=10
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_lang_logprob_matches_python_reference(spark, corpus):
    """operators/lm.py per-language self-scored path ≡ the python twin
    on arbitrary multi-language corpora — pins that each doc is scored
    against ITS OWN language's smoothed model ((N_l, V_l) per lang, not
    corpus-wide scalars), the rounded mean, and the empty-doc drop
    rule. A same-text doc under two langs must be free to score
    differently — the whole point of the per-language shape."""
    from data_warehouse_product_mix_clustering_spark.operators.lm import (
        lang_logprob_py,
        lang_logprob_scores,
    )

    docs = spark.createDataFrame(
        [(i, lang, " ".join(toks)) for i, (lang, toks) in enumerate(corpus)],
        "doc_id long, lang string, text string",
    )
    got = {
        r["doc_id"]: (r["lang"], r["n_tokens"], r["bits_per_token"])
        for r in lang_logprob_scores(docs).collect()
    }
    want = lang_logprob_py({i: lt for i, lt in enumerate(corpus)})
    assert set(got) == set(want)
    for i in want:
        assert got[i][:2] == want[i][:2], (i, got[i], want[i])
        assert abs(got[i][2] - want[i][2]) <= 1e-6, (i, got[i], want[i])


def test_doc_lang_logprob_matches_duckdb_twin(spark):
    """plans/text.py::doc_lang_logprob (pre-staged r13) ≡ its adjacent
    DuckDB oracle at sf0.001 — the r13 registration pastes exactly
    these two sides, so this test IS the registration's dry run. Also
    pins the CCNet point: per-language scoring must differ from
    corpus-wide scoring for at least one doc (else the extra group key
    is vacuous on the attestation corpus)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.text import (
        _lang_unigram_oracle,
        doc_lang_logprob,
        doc_unigram_logprob,
    )
    from conftest import SF_SMOKE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = doc_lang_logprob(spark, SF_SMOKE).toPandas()
    want = con.sql(_lang_unigram_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    per_lang = {r["doc_id"]: r["bits_per_token"] for _, r in got.iterrows()}
    corpus_wide = {
        r["doc_id"]: r["bits_per_token"]
        for r in doc_unigram_logprob(spark, SF_SMOKE).collect()
    }
    assert any(
        abs(per_lang[d] - corpus_wide[d]) > 1e-9 for d in per_lang
    ), "per-language LM identical to corpus-wide on every doc"


def test_training_corpus_lm_by_lang_matches_duckdb_twin(spark):
    """plans/text.py::training_corpus_lm_by_lang (pre-staged r13) ≡ its
    adjacent DuckDB oracle at sf0.001 — the FULL CCNet shape: a
    multilingual corpus where each language's perplexity distribution is
    gated independently (percent_rank PARTITIONED BY lang). The r13
    registration pastes exactly these two sides, so this test IS the
    registration's dry run. Also pins the multilingual point: the
    result must carry more than one language (else the per-lang gate is
    vacuously the corpus-wide one), and each language's kept fraction
    must respect the 0.7 head+middle rule independently."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.text import (
        training_corpus_lm_by_lang,
        training_corpus_lm_by_lang_oracle,
    )
    from conftest import SF_SMOKE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = training_corpus_lm_by_lang(spark, SF_SMOKE).toPandas()
    want = con.sql(training_corpus_lm_by_lang_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    assert got["lang"].nunique() > 1, "gate must be exercised multilingually"


def test_doc_crosscorpus_logprob_matches_duckdb_twin(spark):
    """plans/text.py::doc_crosscorpus_logprob (pre-staged r13) ≡ its
    adjacent DuckDB oracle at sf0.001 — the cross-corpus CCNet shape:
    LM fit on the high-quality reference slice (score ≥ 0.55), every
    doc scored against it, OOV floored at the reference LM's min logp.
    The r13 registration pastes exactly these two sides, so this test
    IS the registration's dry run. (OOV occurs at sf0.01 — 25 docs,
    builder-verified value-exact there too — not at this smoke SF,
    where the reference vocabulary happens to cover the corpus; the
    floor arithmetic itself is pinned by
    test_unigram_logprob_cross_corpus_oov_floor.)"""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.text import (
        _crosscorpus_oracle,
        doc_crosscorpus_logprob,
    )
    from conftest import SF_SMOKE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = doc_crosscorpus_logprob(spark, SF_SMOKE).toPandas()
    want = con.sql(_crosscorpus_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()


def test_bigram_scores_respect_custom_id_col(spark):
    """ADVICE r11: bigram_lm hard-coded "doc_id" in its transition
    extraction, so bigram_logprob_scores(docs, id_col=...) raised an
    AnalysisException on any frame without a doc_id column despite
    exposing id_col. LM *fitting* is now id-free; scoring threads the
    caller's id through — custom-id frames must score identically to
    the same corpus under the default id name."""
    from data_warehouse_product_mix_clustering_spark.operators.lm import bigram_logprob_scores

    rows = [(7, "aa bb aa bb"), (8, "cc dd"), (9, "ee")]
    default = spark.createDataFrame(rows, "doc_id long, text string")
    custom = spark.createDataFrame(rows, "my_id long, text string")
    got_default = {
        r["doc_id"]: (r["n_transitions"], r["bits_per_token"])
        for r in bigram_logprob_scores(default).collect()
    }
    got_custom = {
        r["my_id"]: (r["n_transitions"], r["bits_per_token"])
        for r in bigram_logprob_scores(custom, id_col="my_id").collect()
    }
    assert got_custom == got_default and len(got_default) == 2


def test_minhash_maintenance_text_col_keyword_only(spark, tmp_path):
    """ADVICE r11: the r11 signature change removed update_minhash_index
    / minhash_index_candidates' positional id_col; a stale positional
    caller's id argument would bind to text_col and — on a legacy meta
    with no stored text_col — be trusted, silently signing the id
    column. Positional text_col must now fail loudly."""
    import os

    import pytest as _pytest

    from data_warehouse_product_mix_clustering_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_candidates,
        update_minhash_index,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    idx = os.path.join(str(tmp_path), "idx")
    build_minhash_index(docs, idx, num_hashes=8, bands=4, n_buckets=16)
    with _pytest.raises(TypeError):
        minhash_index_candidates(spark, idx, docs, "doc_id")
    with _pytest.raises(TypeError):
        update_minhash_index(spark, idx, docs, "doc_id")


def test_training_corpus_lm_filtered_matches_duckdb_twin(spark):
    """plans/text.py::training_corpus_lm_filtered (pre-staged r12) ≡ its
    adjacent DuckDB oracle at sf0.001 — the CCNet composition: corpus
    gates (dedup→lang→quality→token budget) + self-fit unigram LM
    scoring + percent_rank ≤ 0.7 head+middle keep. The r12 registration
    pastes exactly these two sides, so this test IS the registration's
    dry run."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.text import (
        training_corpus_lm_filtered,
        training_corpus_lm_oracle,
    )
    from conftest import SF_SMOKE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = training_corpus_lm_filtered(spark, SF_SMOKE).toPandas()
    want = con.sql(training_corpus_lm_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.values == w.values).all()
    # the LM gate must actually drop the high-perplexity tail
    from data_warehouse_product_mix_clustering_spark.plans.text import training_corpus

    assert len(g) < training_corpus(spark, SF_SMOKE).count()


def test_corpus_filter_waterfall_matches_duckdb_twin(spark):
    """plans/text.py::corpus_filter_waterfall (pre-staged r13) ≡ its
    adjacent DuckDB oracle at sf0.001 — the per-gate attrition table.
    The r13 registration pastes exactly these two sides, so this test
    IS the registration's dry run. Also pins the reconciliation
    contract: counts are monotone non-increasing down the stages,
    dropped_here telescopes, and the final stage equals
    training_corpus_lm_filtered's cardinality exactly."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.text import (
        corpus_filter_waterfall,
        training_corpus_lm_filtered,
        training_waterfall_oracle,
    )
    from conftest import SF_SMOKE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = corpus_filter_waterfall(spark, SF_SMOKE).toPandas()
    want = con.sql(training_waterfall_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape == (7, 4)
    assert (g.astype(str).values == w.astype(str).values).all()
    ordered = got.sort_values("stage").reset_index(drop=True)
    counts = list(ordered["n_docs"])
    assert counts == sorted(counts, reverse=True), "stages must be monotone"
    assert ordered["dropped_here"].sum() == counts[0] - counts[-1]
    assert counts[-1] == training_corpus_lm_filtered(spark, SF_SMOKE).count()


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    weights=st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=14),
    context_len=st.integers(min_value=1, max_value=24),
)
def test_context_windows_property(spark, weights, context_len):
    """operators/packing.py::context_windows ≡ the sequential
    concat-and-chunk definition on ARBITRARY weight profiles and window
    lengths (hypothesis) — generalizes the deterministic unit test to
    random boundary alignments, L=1 (every token its own window),
    all-zero corpora, and docs spanning many windows."""
    from data_warehouse_product_mix_clustering_spark.operators.packing import context_windows

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "id long, w long"
    )
    got = sorted(
        (r.seq_id, r.id, r.slice_start, r.slice_len, r.seq_offset)
        for r in context_windows(df, "id", "w", context_len=context_len).collect()
    )
    want = []
    start = 0
    for i, w in enumerate(weights):
        if w == 0:
            continue
        for seq in range(start // context_len, (start + w - 1) // context_len + 1):
            a = max(start, seq * context_len)
            b = min(start + w, (seq + 1) * context_len)
            want.append((seq, i, a - start, b - a, a - seq * context_len))
        start += w
    assert got == sorted(want)


@pytest.mark.heavy_sweep
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    thresholds=st.lists(
        st.sampled_from([0.25, 0.3, 0.35, 0.4, 0.45, 0.5]),
        min_size=1,
        max_size=4,
        unique=True,
    )
)
def test_semantic_dedup_sweep_property(spark, thresholds):
    """semantic_dedup_sweep ≡ per-threshold semantic_dedup counts for
    ARBITRARY threshold sets (hypothesis) — generalizes the fixed
    3-threshold plan test: the shared loosest-threshold pair relation
    plus per-threshold filters must reproduce every single-threshold
    run, including duplicate-free normalization and thresholds that
    remove nothing."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_sweep,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table
    from conftest import SF_SMOKE

    emb = (
        table(spark, "embeddings", SF_SMOKE)
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)  # keep each example fast
    )
    got = {
        r["threshold"]: (r["n_removed"], r["n_survivors"])
        for r in semantic_dedup_sweep(
            emb, tuple(thresholds), nlist=4, seed=42
        ).collect()
    }
    assert set(got) == {float(t) for t in thresholds}
    for t in thresholds:
        n_surv = semantic_dedup(
            emb, nlist=4, threshold=t, seed=42
        ).count()
        assert got[float(t)][1] == n_surv, (t, got[float(t)], n_surv)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=4), max_size=6
        ).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    n_merges=st.integers(0, 4),
    context_len=st.integers(min_value=1, max_value=16),
)
def test_doc_context_windows_bpe_matches_python_twin(
    spark, corpus, n_merges, context_len
):
    """The tokenizer-true packing composition (pre-staged r14:
    train_bpe → bpe_token_counts → context_windows) ≡ the python twin
    (train_bpe_py → encode_py sums → sequential concat-and-chunk) on
    ARBITRARY corpora, merge depths, and window lengths — incl. empty
    docs (zero tokens, emit nothing), L=1, and docs spanning many
    windows. This is the end-to-end pin beneath
    ``doc_context_windows_bpe_audit``'s warehouse-data contract."""
    import re

    from data_warehouse_product_mix_clustering_spark.functions.text import BPE_PATTERN
    from data_warehouse_product_mix_clustering_spark.operators.bpe import (
        bpe_token_counts,
        encode_py,
        train_bpe_py,
    )
    from data_warehouse_product_mix_clustering_spark.operators.packing import context_windows
    from pyspark.sql import functions as F

    pretok = [re.findall(BPE_PATTERN, t.lower()) for t in corpus]
    wc: dict[str, int] = {}
    for ws in pretok:
        for w in ws:
            wc[w] = wc.get(w, 0) + 1
    merges = train_bpe_py(wc, n_merges) if wc else []
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    weights = bpe_token_counts(docs, merges).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    got = sorted(
        (r.seq_id, r.doc_id, r.slice_start, r.slice_len, r.seq_offset)
        for r in context_windows(
            weights, "doc_id", "n_tokens", context_len=context_len
        ).collect()
    )
    want = []
    start = 0
    for i, ws in enumerate(pretok):
        w = sum(len(encode_py(word, merges)) for word in ws)
        if w == 0:
            continue
        for seq in range(start // context_len, (start + w - 1) // context_len + 1):
            a = max(start, seq * context_len)
            b = min(start + w, (seq + 1) * context_len)
            want.append((seq, i, a - start, b - a, a - seq * context_len))
        start += w
    assert got == sorted(want)


def test_corpus_bpe_merges_cached_and_invalidated(spark):
    """plans/text.py::corpus_bpe_merges serves the SAME trained merge
    table on repeat calls (the product_clusters fit-cache lifecycle for
    the tokenizer: training is the expensive iterative stage, every
    consumer — merge table query, tokenizer-true windows, their audit —
    reads one table per (session, corpus)); invalidating the documents
    file or the whole sf_dir drops it, and retraining reproduces the same
    table."""
    import os

    from conftest import SF_SMOKE as sf
    from data_warehouse_product_mix_clustering_spark.etl.star_schema import invalidate_star_cache
    from data_warehouse_product_mix_clustering_spark.plans import text as text_plans
    from data_warehouse_product_mix_clustering_spark.sources import registry

    a = text_plans.corpus_bpe_merges(spark, sf)
    b = text_plans.corpus_bpe_merges(spark, sf)
    assert a is b, "same (session, sf_dir, n_merges) must reuse the table"
    assert len(a) == text_plans._BPE_N_MERGES
    registry.invalidate(os.path.join(sf, "documents.parquet"))
    c = text_plans.corpus_bpe_merges(spark, sf)
    assert c is not a and c == a, "retrain reproduces the same table"
    invalidate_star_cache(sf)
    d = text_plans.corpus_bpe_merges(spark, sf)
    assert d is not c, "invalidating the sf_dir must drop tokenizers trained on its documents"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abcd"), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_interleave_rank_matches_pandas_reference(spark, rows):
    """plans/pipeline/packing.py::_interleave_rank (the shared group-rank
    machinery under the interleave and batching queries) ≡ the pandas
    per-group rank on ARBITRARY group/order profiles — including
    duplicate order values (doc_id tiebreak makes the order total),
    single-group inputs, and groups of size 1. The machinery itself is
    otherwise pinned only through its consumers' oracle equality."""
    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import _interleave_rank
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)],
        "doc_id long, grp string, v long",
    )
    got = {
        r["doc_id"]: r["__rk"]
        for r in _interleave_rank(
            df, "grp", [F.col("v"), F.col("doc_id")], "__rk"
        ).collect()
    }
    pdf = pd.DataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)],
        columns=["doc_id", "grp", "v"],
    ).sort_values(["grp", "v", "doc_id"])
    pdf["rk"] = pdf.groupby("grp").cumcount() + 1
    want = dict(zip(pdf["doc_id"], pdf["rk"]))
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(-4, 4).map(float), min_size=3, max_size=3
        ),
        min_size=1,
        max_size=12,
    ),
    k=st.integers(1, 6),
)
def test_maxmin_coreset_matches_python_twin(spark, vecs, k):
    """operators/selection.py::maxmin_coreset ≡ maxmin_coreset_py on
    ARBITRARY small integer-grid corpora (ties everywhere — the argmax
    tie-break and duplicate-distance early stop get exercised hard) —
    ids, order, and distances exactly."""
    from data_warehouse_product_mix_clustering_spark.operators.selection import (
        maxmin_coreset,
        maxmin_coreset_py,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, v array<float>"
    )
    got = maxmin_coreset(df, "id", "v", k)
    want = maxmin_coreset_py({i: v for i, v in enumerate(vecs)}, k)
    assert got == want


def test_doc_quality_lm_calibration_matches_duckdb_twin(spark):
    """plans/text.py::doc_quality_lm_calibration (pre-staged) ≡ its
    adjacent DuckDB oracle at sf0.001 — the registration's dry run —
    plus the bucket contract: 10 deciles, near-equal sizes (ntile
    spreads the remainder over the leading buckets), covering every
    scoreable doc exactly once."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.text import (
        _quality_lm_calibration_oracle,
        doc_quality_lm_calibration,
        doc_unigram_logprob,
    )
    from conftest import SF_SMOKE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = doc_quality_lm_calibration(spark, SF_SMOKE).toPandas()
    want = con.sql(_quality_lm_calibration_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape == (10, 4)
    assert (g.astype(str).values == w.astype(str).values).all()
    sizes = got.sort_values("decile")["n_docs"]
    assert sizes.max() - sizes.min() <= 1
    assert sizes.sum() == doc_unigram_logprob(spark, SF_SMOKE).count()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    inventories=st.lists(
        st.integers(1, 2000), min_size=2, max_size=10
    ),
    frac_pct=st.integers(30, 99),
)
def test_waterfill_allocation_matches_python_twin(spark, inventories, frac_pct):
    """plans/pipeline/mixture.py::waterfill_allocation ≡ waterfill_py on
    ARBITRARY small inventories at α = 0 — allocations and saturation
    flags exactly (the SAME IEEE arithmetic sequence + HALF_UP rounds
    on both sides), plus the allocation laws: nothing exceeds
    inventory, Σ alloc hits the budget to within per-source rounding,
    and every unsaturated source sits at the common water level."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        waterfill_allocation,
        waterfill_py,
    )

    toks = {f"s{i:02d}": t for i, t in enumerate(inventories)}
    frac = frac_pct / 100.0
    per_src = spark.createDataFrame(
        [(s, t) for s, t in toks.items()], "source string, total_tokens long"
    )
    got = {
        r["source"]: (int(r["alloc_tokens"]), bool(r["saturated"]))
        for r in waterfill_allocation(per_src, 0.0, frac).collect()
    }
    total = sum(toks.values())
    from decimal import ROUND_HALF_UP, Decimal

    budget = int(
        Decimal(repr(frac * total)).quantize(Decimal("1"), ROUND_HALF_UP)
    )
    want = waterfill_py(toks, budget)
    assert got == want
    assert all(a <= toks[s] for s, (a, _) in got.items())
    assert abs(sum(a for a, _ in got.values()) - budget) <= len(toks)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    masses=st.lists(st.integers(1, 5000), min_size=2, max_size=8),
    weights=st.lists(st.integers(1, 1000), min_size=8, max_size=8),
)
def test_target_keep_rates_match_python_twin(spark, masses, weights):
    """plans/pipeline/mixture.py::_target_keep_rates ≡ the driver twin
    on ARBITRARY per-source token masses × explicit target shares (the
    DoReMi seam's rate rule, the same arithmetic
    doremi_training_batches_audit pins on real data): w = tgt/obs
    normalized by max, 6-dp snapped. Also the rate laws: every rate in
    (0, 1], exactly one source at 1.0 (the max, up to snap ties), and
    rates scale-invariant in the weight vector (targets need not be
    normalized — only ratios matter)."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import _target_keep_rates
    from data_warehouse_product_mix_clustering_spark.plans.similarity import ratio_round_py

    srcs = [f"s{i:02d}" for i in range(len(masses))]
    w_raw = weights[: len(masses)]
    total_w = sum(w_raw)
    per_src = spark.createDataFrame(
        list(zip(srcs, masses)), "source string, total_tokens long"
    )
    targets = spark.createDataFrame(
        [(s, w / total_w) for s, w in zip(srcs, w_raw)],
        "source string, target_share double",
    )
    got = {
        r["source"]: float(r["keep_rate"])
        for r in _target_keep_rates(per_src, targets).collect()
    }

    total_m = sum(masses)
    raw = {
        s: (w / total_w) / (m / total_m)
        for s, m, w in zip(srcs, masses, w_raw)
    }
    mx = max(raw.values())
    want = {s: ratio_round_py(v / mx) for s, v in raw.items()}
    assert got == want
    assert all(0.0 < r <= 1.0 + 1e-9 for r in got.values())
    assert max(got.values()) >= 1.0

    # scale invariance: doubling every target share changes nothing
    targets2 = spark.createDataFrame(
        [(s, 2.0 * w / total_w) for s, w in zip(srcs, w_raw)],
        "source string, target_share double",
    )
    got2 = {
        r["source"]: float(r["keep_rate"])
        for r in _target_keep_rates(per_src, targets2).collect()
    }
    assert got2 == got


def test_target_keep_rates_raise_on_uncovered_source(spark):
    """ADVICE r15: a gated source missing from the target-weight relation
    must fail LOUDLY at execution, not silently vanish from the resampled
    corpus (the inner join dropped it; the temperature path keeps every
    source — the asymmetry was invisible). The guard is a filter-wrapped
    raise_error naming the uncovered source, so full-coverage plans pay
    nothing and partial coverage cannot pass."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import _target_keep_rates

    per_src = spark.createDataFrame(
        [("web", 1000), ("books", 500), ("orphan", 250)],
        "source string, total_tokens long",
    )
    targets = spark.createDataFrame(
        [("web", 0.7), ("books", 0.3)], "source string, target_share double"
    )
    with pytest.raises(Exception, match="orphan.*no target_share"):
        _target_keep_rates(per_src, targets).collect()

    # Full coverage is untouched by the guard: same rates as the twin.
    full = spark.createDataFrame(
        [("web", 0.6), ("books", 0.3), ("orphan", 0.1)],
        "source string, target_share double",
    )
    got = {
        r["source"]: float(r["keep_rate"])
        for r in _target_keep_rates(per_src, full).collect()
    }
    assert set(got) == {"web", "books", "orphan"}
    assert max(got.values()) >= 1.0

    # Optimizer-version pin (ADVICE r16): the guard only works while
    # EliminateOuterJoin declines to null-evaluate the raise_error
    # predicate — if a Catalyst upgrade starts treating it as
    # null-rejecting, the left join silently becomes Inner and the
    # uncovered source vanishes instead of raising. Assert the OPTIMIZED
    # plan keeps the join LeftOuter so that upgrade fails here, loudly.
    optimized = (
        _target_keep_rates(per_src, targets)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftOuter" in optimized, optimized


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.dictionaries(
        keys=st.integers(min_value=0, max_value=200),
        values=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=10),
        min_size=1,
        max_size=12,
    ),
    phrase=st.lists(st.sampled_from(["a", "b", "c"]), min_size=2, max_size=3),
)
def test_phrase_search_matches_python_reference(
    spark, tmp_path_factory, corpus, phrase
):
    """search_phrase on ARBITRARY corpora and phrases over a 3-word
    vocabulary — small alphabet forces repeated terms and OVERLAPPING
    occurrences ("a a a" contains "a a" twice), exactly where a
    position-set intersection can diverge from a token-stream walk. The
    reference is a pure-python sliding-window count."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.functions.text import tokens
    from data_warehouse_product_mix_clustering_spark.operators.postings import (
        build_postings_index,
        search_phrase,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in sorted(corpus.items())],
        "doc_id long, text string",
    )
    idx = str(tmp_path_factory.mktemp("phrase_prop"))
    build_postings_index(docs, idx, tokens(F.col("text")))
    want = {}
    for i, d in corpus.items():
        n = sum(
            1
            for j in range(len(d) - len(phrase) + 1)
            if d[j : j + len(phrase)] == phrase
        )
        if n:
            want[i] = n
    got = {
        r.doc_id: r.n_occurrences
        for r in search_phrase(spark, idx, tuple(phrase)).collect()
    }
    assert got == want


_postings_doc = st.lists(
    st.sampled_from(["merge", "join", "dup", "scan", "sort"]),
    min_size=1,
    max_size=8,
)


@pytest.mark.heavy_sweep
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(_postings_doc, min_size=1, max_size=6),
    adds=st.lists(_postings_doc, max_size=3),
    data=st.data(),
)
def test_update_postings_index_equals_rebuild(
    spark, tmp_path_factory, base, adds, data
):
    """update_postings_index ≡ build on the updated corpus for RANDOM
    CDC batches across the WHOLE four-relation family — random
    removals, random edits, random adds, duplicate texts. The relations
    (postings, terms, positions, stats) must match a rebuild exactly,
    and both serving paths (exact, phrase) must answer identically off
    the maintained and rebuilt indexes.
    The fixed-scenario tests pin one path; this pins the algebra."""
    import os

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.functions.text import tokens
    from data_warehouse_product_mix_clustering_spark.operators.postings import (
        build_postings_index,
        read_positions,
        read_postings,
        search_phrase,
        search_postings_index,
        update_postings_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    ids = list(range(len(base)))
    removed = set(data.draw(st.lists(st.sampled_from(ids), max_size=3, unique=True)))
    survivors = [i for i in ids if i not in removed]
    changed = set(
        data.draw(st.lists(st.sampled_from(survivors), max_size=2, unique=True))
        if survivors
        else []
    )
    new_rows = [(i, " ".join(t)) for i, t in enumerate(base) if i not in removed]
    new_rows = [
        (i, (t + " merge join").strip() if i in changed else t)
        for i, t in new_rows
    ]
    new_rows += [(100 + j, " ".join(t)) for j, t in enumerate(adds)]
    if not new_rows:  # a fully-emptied corpus is the versioned sink's
        new_rows = [(999, "scan sort")]  # territory, not this family's

    root = str(tmp_path_factory.mktemp("postprop"))
    base_df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(base)], "doc_id long, text string"
    )
    nxt_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    tdir = os.path.join(root, "t")
    write_version(base_df, tdir)
    write_version(nxt_df, tdir)
    m, r = os.path.join(root, "m"), os.path.join(root, "r")
    build_postings_index(base_df, m, tokens(F.col("text")))
    update_postings_index(
        spark, m, version_diff(spark, tdir, 0, 1, key=["doc_id"]),
        lambda c: tokens(c),
    )
    build_postings_index(nxt_df, r, tokens(F.col("text")))

    def eq(a, b, cols):
        a, b = a.select(*cols), b.select(*cols)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), (
            base, removed, changed, adds, cols,
            sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect())),
        )

    eq(read_postings(spark, m), read_postings(spark, r),
       ["bucket", "term", "doc_id", "dl", "tf"])
    eq(spark.read.parquet(os.path.join(m, "terms")),
       spark.read.parquet(os.path.join(r, "terms")), ["bucket", "term", "df"])
    eq(read_positions(spark, m), read_positions(spark, r),
       ["bucket", "term", "doc_id", "positions"])
    sm = spark.read.parquet(os.path.join(m, "stats")).first()
    sr = spark.read.parquet(os.path.join(r, "stats")).first()
    assert (sm["n_docs"], sm["total_dl"]) == (sr["n_docs"], sr["total_dl"])

    terms = ("merge", "join", "dup")
    for srch in (
        lambda idx: search_postings_index(spark, idx, terms, top_k=5),
        lambda idx: search_phrase(spark, idx, ("merge", "join")),
    ):
        got = sorted(map(tuple, srch(m).collect()))
        want = sorted(map(tuple, srch(r).collect()))
        assert got == want, (base, removed, changed, adds, got, want)
