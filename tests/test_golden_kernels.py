"""Golden-value parity of the pure-Python kernels with the reference's own
test constants (tests/timemap_measures_test.py in /root/reference) — these are
environment-independent regression anchors."""

import warnings
from datetime import datetime

import numpy as np
import pytest

from off_topic_memento_toolkit_spark.functions.seqdist import (
    jaccard, levenshtein, nlevenshtein, sorensen,
)
from off_topic_memento_toolkit_spark.functions.simhash64 import (
    hamming64, simhash_raw_bytes, simhash_tokens, to_signed64,
)
from off_topic_memento_toolkit_spark.functions.textprep import (
    EmptyDocumentError, extract_text, full_tokenize,
)
from off_topic_memento_toolkit_spark.sources.datagen import PANGRAM_WORDS


def _drift_contents():
    """Reconstruct the reference's test_all_mementos_different fixture
    (timemap1): three mementos of cumulative pangram suffixes."""
    mdts = {
        "memento11": datetime(2016, 1, 21, 15, 45, 6),
        "memento12": datetime(2017, 1, 21, 15, 45, 6),
        "memento13": datetime(2018, 1, 21, 15, 45, 12),
    }
    contents = {}
    index = 1
    for urim in ("memento11", "memento12", "memento13"):
        index += 1
        inner = urim
        for j in range(0, index):
            inner += "\n" + " ".join(PANGRAM_WORDS[(j + index):]) + " "
        inner += "\n" + str(mdts[urim])
        contents[urim] = bytes(f"<html><body>{inner}</body></html>", "utf8")
    return contents


CONTENTS = _drift_contents()
TOKENS = {u: full_tokenize(extract_text(c)) for u, c in CONTENTS.items()}


def test_raw_byte_lengths():
    # golden 'individual score' for bytecount: 723 / 1034 / 1331
    assert [len(CONTENTS[u]) for u in ("memento11", "memento12", "memento13")] \
        == [723, 1034, 1331]


def test_wordcounts():
    assert [len(TOKENS[u]) for u in ("memento11", "memento12", "memento13")] \
        == [94, 135, 176]


@pytest.mark.parametrize("urim,expected", [
    ("memento12", {"jaccard": 0.11363636363636365, "levenshtein": 45,
                   "nlevenshtein": 0.3333333333333333,
                   "sorensen": 0.06024096385542166,
                   "bytecount": 0.43015214384508993,
                   "wordcount": 0.43617021276595747}),
    ("memento13", {"jaccard": 0.15555555555555556, "levenshtein": 86,
                   "nlevenshtein": 0.48863636363636365,
                   "sorensen": 0.08433734939759041,
                   "bytecount": 0.8409405255878284,
                   "wordcount": 0.8723404255319149}),
])
def test_drift_golden_scores(urim, expected):
    first_tokens = TOKENS["memento11"]
    tokens = TOKENS[urim]
    assert jaccard(first_tokens, tokens) == pytest.approx(expected["jaccard"])
    assert levenshtein(first_tokens, tokens) == expected["levenshtein"]
    assert nlevenshtein(first_tokens, tokens) == pytest.approx(expected["nlevenshtein"])
    assert sorensen(first_tokens, tokens) == pytest.approx(expected["sorensen"])
    assert len(CONTENTS[urim]) / len(CONTENTS["memento11"]) - 1 \
        == pytest.approx(expected["bytecount"])
    assert len(tokens) / len(first_tokens) - 1 == pytest.approx(expected["wordcount"])


def test_identity_scores():
    tokens = TOKENS["memento11"]
    assert jaccard(tokens, tokens) == 0.0
    assert sorensen(tokens, tokens) == 0.0
    assert levenshtein(tokens, tokens) == 0
    assert nlevenshtein(tokens, tokens) == 0.0
    assert hamming64(simhash_tokens(tokens), simhash_tokens(tokens)) == 0


def test_simhash_goldens():
    mc1 = bytes(f"<html><body>{' '.join(PANGRAM_WORDS[0:20])}</body></html>", "utf8")
    mc2 = bytes(f"<html><body>{' '.join(PANGRAM_WORDS[20:-1])}</body></html>", "utf8")
    assert hamming64(simhash_raw_bytes(mc1), simhash_raw_bytes(mc2)) == 36
    t1 = full_tokenize(extract_text(mc1))
    t2 = full_tokenize(extract_text(mc2))
    assert hamming64(simhash_tokens(t1), simhash_tokens(t2)) == 24


def test_empty_document_raises():
    with pytest.raises(EmptyDocumentError):
        extract_text(b"")
    with pytest.raises(EmptyDocumentError):
        extract_text(None)


def test_empty_body_empty_text():
    assert extract_text(b"<html><body></body></html>") == ""


def test_levenshtein_np_matches_reference_dp():
    """The vectorized scan must equal the classic DP on random token seqs
    (hypothesis-style sweep incl. empty/equal/disjoint edges)."""
    import random

    from off_topic_memento_toolkit_spark.functions.seqdist import (
        levenshtein,
        levenshtein_np,
    )

    rng = random.Random(1234)
    vocab = [f"tok{i}" for i in range(30)]
    for _ in range(500):
        a = [rng.choice(vocab) for _ in range(rng.randint(0, 15))]
        b = [rng.choice(vocab) for _ in range(rng.randint(0, 15))]
        assert levenshtein_np(a, b) == levenshtein(a, b), (a, b)
    assert levenshtein_np([], []) == 0
    assert levenshtein_np(["a"], []) == 1
    assert levenshtein_np([], ["a", "b"]) == 2
    assert levenshtein_np(["a", "b"], ["a", "b"]) == 0


def test_lsi_kernel_analytic_goldens():
    """K11 beyond the identity-1.0 case: hand-derived fixtures with NO SVD
    call in the expectation.

    (1) Full rank (k = rank): projecting onto the complete right-singular
    basis is an isometry of the row space, so LSI cosine == raw count-vector
    cosine — computable with plain arithmetic.  docs over vocab {a, b}:
    d0=(2,1), d1=(1,2), d2=(3,0) →
        sim(d1,d0) = (2+2)/(√5·√5)  = 0.8
        sim(d2,d0) = 6/(√5·3)       = 2/√5
    (2) Rank-1 truncation of an all-positive matrix: every projection is a
    positive scalar multiple of the Perron singular vector → all sims 1.0.
    """
    import math

    from off_topic_memento_toolkit_spark.operators.groupkernels import (
        _count_matrix,
        _lsi_similarity,
    )

    docs = [["a", "a", "b"], ["a", "b", "b"], ["a", "a", "a"]]

    sims = _lsi_similarity(_count_matrix(docs), num_topics=2)
    assert abs(sims[0] - 1.0) < 1e-9
    assert abs(sims[1] - 0.8) < 1e-9
    assert abs(sims[2] - 2.0 / math.sqrt(5.0)) < 1e-9

    sims1 = _lsi_similarity(_count_matrix(docs), num_topics=1)
    assert all(abs(s - 1.0) < 1e-9 for s in sims1)


def _timeline(tokens, tokens_cos, urit="t"):
    """One timeline as the group kernel receives it: the urit group of the
    enrichment, rows out of order (the kernel sorts them)."""
    import numpy as np
    import pandas as pd

    n = len(tokens)
    frame = pd.DataFrame({
        "urit": [urit] * n,
        "urim": [f"{urit}/m{i}" for i in range(n)],
        "warc_ts": pd.date_range("2020-01-01", periods=n, freq="D"),
        "text_len": [100.0] * n,
        "tokens": [np.array(t, dtype=object) for t in tokens],
        "tokens_cos": [np.array(t, dtype=object) for t in tokens_cos],
    })
    return frame.iloc[::-1].reset_index(drop=True)


def test_group_kernel_builds_one_count_matrix_per_token_column(monkeypatch):
    """cosine fits over ``tokens_cos``; LSI and LDA share ONE count matrix
    of ``tokens``: two builds per timeline for the three measures, each
    over its column's token lists in timeline order."""
    from off_topic_memento_toolkit_spark.operators import groupkernels

    built = []
    real = groupkernels._count_matrix

    def counting(token_lists):
        built.append([list(t) for t in token_lists])
        return real(token_lists)

    monkeypatch.setattr(groupkernels, "_count_matrix", counting)
    kernel = groupkernels.make_group_kernel(
        ["cosine", "gensim_lsi", "gensim_lda"])
    tokens = [["a", "b"], ["b", "c", "c"], ["d"]]
    tokens_cos = [["x"], ["x", "y"], ["z", "z"]]
    for timeline in ("t1", "t2"):
        built.clear()
        out = kernel(_timeline(tokens, tokens_cos, urit=timeline))
        assert sorted(built) == sorted([tokens, tokens_cos])
        assert out["error_msg"].isna().all()
        assert sorted(out["measure"].value_counts().items()) == [
            ("cosine", 3), ("gensim_lda", 3), ("gensim_lsi", 3)]


def test_group_kernel_empty_tokens_vocabulary_errors_only_its_measures():
    """An all-empty ``tokens`` column fails LSI and LDA with the
    empty-vocabulary error row for every memento, while cosine still
    scores from ``tokens_cos``.  The mixed timeline concatenates scored and
    error rows with no dtype warning, into a float64 score column."""
    from off_topic_memento_toolkit_spark.operators.groupkernels import (
        make_group_kernel,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = make_group_kernel(["gensim_lsi", "cosine", "gensim_lda"])(
            _timeline([[], [], []], [["x"], ["x", "y"], ["z"]]))
    assert out["comparison_score"].dtype == np.float64
    by_measure = {m: rows for m, rows in out.groupby("measure")}
    for measure in ("gensim_lsi", "gensim_lda"):
        rows = by_measure[measure]
        assert len(rows) == 3
        assert (rows["error_msg"] == "ValueError('empty vocabulary')").all()
        assert rows["comparison_score"].isna().all()
    cosine = by_measure["cosine"].set_index("urim")
    assert cosine["error_msg"].isna().all()
    assert cosine.loc["t/m0", "comparison_score"] == pytest.approx(1.0)
    assert cosine.loc["t/m2", "comparison_score"] == 0.0


def test_porter_short_word_case_preserved():
    """NLTK's PorterStemmer.stem early-returns the ORIGINAL-cased word for
    length<=2 tokens (`return word` runs before any lowercasing applies),
    so capitalized short stopwords like 'Is'/'It'/'We' keep their case and
    — because stopword removal runs AFTER stemming against the lowercase
    stopset (reference quirk P4) — survive into the token stream.  The
    reference inherits exactly this via nltk; pinned here so nobody
    "fixes" one side alone (see porter.porter_stem docstring)."""
    from off_topic_memento_toolkit_spark.functions.porter import porter_stem
    from off_topic_memento_toolkit_spark.functions.textprep import (
        full_tokenize,
    )

    assert porter_stem("Is") == "Is"
    assert porter_stem("It") == "It"
    assert porter_stem("is") == "is"
    # length>2 words lowercase as part of stemming
    assert porter_stem("Stemming") == "stem"

    toks = full_tokenize("Is this on topic? It is. We think so.")
    # capitalized short stopwords kept; lowercase 'is'/'so' and 'this'/'on'
    # dropped by the stopset
    assert "Is" in toks and "It" in toks and "We" in toks
    assert "is" not in toks and "this" not in toks


def _expected_enrichment(html, text):
    """Each enrichment output from the standalone kernels."""
    if text is None and html is not None:
        try:
            text = extract_text(html)
        except EmptyDocumentError:
            text = None
    tokens = None if text is None else full_tokenize(text)
    top20 = None if tokens is None else [
        t for _, t in sorted(((tokens.count(t), t) for t in set(tokens)),
                             reverse=True)[:20]]
    return {
        "text": text,
        "tokens": tokens,
        "raw_simhash": None if html is None
        else to_signed64(simhash_raw_bytes(html)),
        "tf_simhash": None if tokens is None
        else to_signed64(simhash_tokens(tokens)),
        "top20": top20,
        "tokens_cos": None if text is None else full_tokenize(text.lower()),
    }


def test_enrichment_udf_equals_standalone_kernels(spark):
    """One Arrow batch holding every null/empty case beside ordinary pages:
    each output of the struct UDF, for every subset asked for, equals its
    standalone kernel row by row (and a null elsewhere in the batch leaves
    the 64-bit simhashes exact)."""
    from off_topic_memento_toolkit_spark.functions.udfs import (
        ENRICH_OUTPUTS,
        make_enrich_udf,
    )

    many = " ".join(f"Word{i % 23} term{i % 7} The" for i in range(60))
    rows = [
        (None, None),                                  # null html
        (CONTENTS["memento12"], None),                 # text from html
        (CONTENTS["memento13"], "Given TEXT, not html"),  # given text
        (b"", None),                                   # empty document
        (b"   ", None),                                # whitespace only
        (b"<html><body>x</body></html>", ""),          # "" text -> []
        (None, "Text without html"),
        (bytes(f"<html><body><p>{many}</p></body></html>", "utf8"), None),
    ]
    pages = spark.createDataFrame(rows, "html binary, text string") \
        .coalesce(1)
    expected = [_expected_enrichment(h, t) for h, t in rows]
    assert expected[3]["text"] is None and expected[3]["tokens"] is None
    assert expected[5]["tokens"] == []
    for outputs in (tuple(ENRICH_OUTPUTS), ("raw_simhash",), ("text",),
                    ("tokens_cos", "top20")):
        got = pages.select(
            make_enrich_udf(outputs)("html", "text").alias("e")).collect()
        assert [row.e.asDict() for row in got] == [
            {name: want[name] for name in ENRICH_OUTPUTS if name in outputs}
            for want in expected], outputs
