"""Per-timeline group kernels: TF-IDF cosine, LSI and LDA similarity-to-first.

These are the three measures whose fit spans the WHOLE timeline (vocabulary /
IDF / SVD over all documents of a url), so they run as grouped-map pandas
kernels over ``groupBy(urit)`` (``applyInPandas``) — the one place the
reference's buffering design (otmt/timemap_measures.py:628,647,792,814) is
semantically required.

Per timeline the kernel sorts, gates on the first memento and applies the
document cap once, then builds one term-count matrix per token column
(:func:`_count_matrix`) that every measure fitting over that column shares;
each fit is a function of the count matrix (:data:`GROUP_MEASURES`).

Numerics:
- cosine reproduces sklearn ``TfidfVectorizer(tokenizer=full_tokenize)`` +
  ``cosine_similarity`` exactly (smooth idf ``ln((1+n)/(1+df))+1``, raw tf,
  l2 norm, preprocessor lowercasing) — otmt/timemap_measures.py:680-711;
- gensim_lsi projects the bag-of-words count matrix onto its top-k singular
  subspace (exact SVD) and takes cosine to the first document — cosine in the
  top-k subspace is basis-invariant, so this matches gensim's LsiModel +
  MatrixSimilarity semantics deterministically;
- gensim_lda is EXPERIMENTAL and non-deterministic in the reference's own
  tests (tests/timemap_measures_test.py:35-41) — implemented as a seeded,
  deterministic collapsed-variational approximation, parity excluded.

Memory: a group holds one timeline. For pathological hosts, cap with
``max_docs_per_timeline`` (scores beyond the cap get an error row rather than
a silently-wrong fit).

First-memento gating is deliberately DIFFERENT from the pairwise path,
because the reference's is: the grouped functions gate on the first
memento's TEXT length (timemap_measures.py:604 ``len(first_data) == 0``)
and PROCEED when the text is all stopwords/punctuation — sklearn zero-rows
the empty-token document and every cosine to it is 0.0 — while the
pairwise functions gate on token emptiness.  Do not "unify" the two gates;
parity requires mirroring each family's own rule.
"""

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .measures_constants import (
    FIRST_BP_ERROR_MSG,
    FIRST_EMPTY_MSG,
    GROUP_SCORES_SCHEMA,
    ROW_BP_ERROR_MSG,
)

_SCHEMA = GROUP_SCORES_SCHEMA


def _rows(urit, urims, measure, scores=None, error=None):
    n = len(urims)
    return pd.DataFrame({
        "urit": [urit] * n,
        "urim": list(urims),
        "measuretype": ["timemap measures"] * n,
        "measure": [measure] * n,
        # float64 either way: error rows carry NaN (null in Arrow), so a
        # timeline mixing scored and error rows concatenates to float64
        "comparison_score": np.full(n, np.nan) if scores is None
        else np.asarray(scores, dtype=np.float64),
        "tokenized": [True] * n,
        "stemmed": [True] * n,
        "removed_boilerplate": [True] * n,
        "error_msg": [error] * n,
    })


def _count_matrix(token_lists):
    """Dense n×V float64 term counts of a timeline's token lists, columns in
    sorted-vocabulary order: ONE hash factorization of all its tokens (only
    the V distinct terms are sorted) and one ``bincount`` — the single
    place a vocabulary is built."""
    lengths = [len(tokens) for tokens in token_lists]
    if not sum(lengths):
        raise ValueError("empty vocabulary")
    codes, vocab = pd.factorize(
        np.concatenate([np.asarray(t, dtype=object) for t in token_lists]),
        sort=True)
    n, v = len(token_lists), len(vocab)
    rows = np.repeat(np.arange(n), lengths)
    return np.bincount(rows * v + codes, minlength=n * v) \
        .reshape(n, v).astype(np.float64)


def _cosine_to_first(vectors):
    """Cosine of every row of ``vectors`` to row 0 (zero rows score 0)."""
    norms = np.linalg.norm(vectors, axis=1)
    norms[norms == 0] = 1.0
    unit = vectors / norms[:, None]
    return unit @ unit[0]


def _tfidf_cosine(counts):
    """sklearn-formula TF-IDF + cosine of row 0 vs all rows."""
    n = counts.shape[0]
    df = (counts > 0).sum(axis=0)
    idf = np.log((1.0 + n) / (1.0 + df)) + 1.0
    return _cosine_to_first(counts * idf)


def _lsi_similarity(counts, num_topics):
    """Exact truncated-SVD projection; cosine of each doc to doc 0."""
    k = min(num_topics, min(counts.shape))
    # exact SVD; projection onto top-k right-singular basis
    _, _, vt = np.linalg.svd(counts, full_matrices=False)
    return _cosine_to_first(counts @ vt[:k].T)


def _lda_similarity(counts, num_topics, seed=42, iterations=50):
    """Deterministic seeded LDA-ish topic mixture + cosine to doc 0.
    Parity with gensim is explicitly out of scope (non-deterministic there)."""
    n, v = counts.shape
    rng = np.random.RandomState(seed)
    phi = rng.dirichlet(np.ones(v), size=num_topics)          # topic-word
    theta = np.full((n, num_topics), 1.0 / num_topics)        # doc-topic
    for _ in range(iterations):
        # E-step: responsibilities; M-step: multinomial updates (EM for
        # a mixture-of-unigrams — a deterministic stand-in for LDA)
        resp = theta[:, :, None] * phi[None, :, :]            # n x k x v
        resp_sum = resp.sum(axis=1, keepdims=True)
        resp_sum[resp_sum == 0] = 1.0
        resp /= resp_sum
        weighted = resp * counts[:, None, :]
        theta = weighted.sum(axis=2) + 1e-9
        theta /= theta.sum(axis=1, keepdims=True)
        phi = weighted.sum(axis=0) + 1e-9
        phi /= phi.sum(axis=1, keepdims=True)
    return _cosine_to_first(theta)


# the whole-timeline measures: the token column each fits over (sklearn
# lowercases before tokenizing, so cosine reads its own stream) and its fit
# over that column's count matrix, with the reference's topic counts
# (otmt/timemap_measures.py:879-893)
GROUP_MEASURES = {
    "cosine": ("tokens_cos", _tfidf_cosine),
    "gensim_lsi": ("tokens", partial(_lsi_similarity, num_topics=10)),
    "gensim_lda": ("tokens", partial(_lda_similarity, num_topics=2)),
}


# past the cap, mementos get an error row instead of a silently-wrong fit
CAP_ERROR_MSG = ("Timeline exceeds the per-timeline document cap for whole-"
                 "timeline measures; memento excluded from the fit")

# groups beyond this buffer nothing more into the pandas kernel — a viral
# host's 10^6-memento timeline would otherwise OOM one executor task
DEFAULT_MAX_DOCS_PER_TIMELINE = 20_000


def make_group_kernel(measures,
                      max_docs_per_timeline=DEFAULT_MAX_DOCS_PER_TIMELINE):
    measures = list(measures)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULLS FIRST, matching the pairwise path's Spark window ordering
        # (ascending nulls-first) — pandas defaults NaT LAST, which would
        # anchor the grouped measures on a different "first memento" than
        # the pairwise measures whenever a warc_ts failed to parse
        pdf = pdf.sort_values(["warc_ts", "urim"], kind="mergesort",
                              na_position="first")
        urit = pdf["urit"].iloc[0]
        urims = pdf["urim"].tolist()
        text_len = pdf["text_len"]
        first_len = text_len.iloc[0]
        if pd.isna(first_len) or first_len == 0:
            error = FIRST_BP_ERROR_MSG if pd.isna(first_len) else FIRST_EMPTY_MSG
            out = [_rows(urit, urims, m, error=error) for m in measures]
            return pd.concat(out, ignore_index=True) if out \
                else _rows(urit, [], "cosine")

        has_text = text_len.notna()
        keep = (has_text.cumsum() <= max_docs_per_timeline
                if max_docs_per_timeline else has_text)
        ok_mask, capped_mask = has_text & keep, has_text & ~keep
        ok_urims = pdf.loc[ok_mask, "urim"].tolist()
        bad_urims = pdf.loc[~has_text, "urim"].tolist()
        capped_urims = pdf.loc[capped_mask, "urim"].tolist()

        # tokens were computed ONCE upstream (enrich_pages) — the kernel
        # consumes arrays, it never re-runs treebank+porter (the
        # reference's 12x-reprocess bug); each token column's count matrix
        # is built once, on first use, and shared by the measures fitting
        # over it (LSI and LDA both read ``tokens``)
        counts = {}
        out = []
        for measure in measures:
            column, fit = GROUP_MEASURES[measure]
            try:
                if column not in counts:
                    counts[column] = _count_matrix(
                        pdf.loc[ok_mask, column].tolist())
                sims = fit(counts[column])
            except ValueError as exc:
                out.append(_rows(urit, urims, measure, error=repr(exc)))
                continue

            out.append(_rows(urit, ok_urims, measure, scores=sims))
            for rest, error in ((bad_urims, ROW_BP_ERROR_MSG),
                                (capped_urims, CAP_ERROR_MSG)):
                if rest:
                    out.append(_rows(urit, rest, measure, error=error))
        return pd.concat(out, ignore_index=True) if out else _rows(urit, [], "cosine")

    return kernel


def score_group_measures(
    enriched: DataFrame,
    measures,
    max_docs_per_timeline=DEFAULT_MAX_DOCS_PER_TIMELINE,
) -> DataFrame:
    """Run the grouped kernels; input must carry urit, urim, warc_ts, text
    (or its length as ``text_len``) and the token columns the measures fit
    over (:data:`GROUP_MEASURES`): ``tokens`` for LSI/LDA, ``tokens_cos``
    for cosine — sklearn lowercases before tokenizing, so its token stream
    genuinely differs (``enrich_pages`` computes it in the same Python pass
    as ``tokens``)."""
    measures = list(measures)
    kernel = make_group_kernel(measures, max_docs_per_timeline)
    read = {GROUP_MEASURES[m][0] for m in measures}
    none = F.lit(None).cast("array<string>")
    cols = [F.col("urit"), F.col("urim"), F.col("warc_ts"),
            F.col("text_len") if "text_len" in enriched.columns
            else F.length("text").alias("text_len")]
    cols += [F.col(c) if c in read else none.alias(c)
             for c in ("tokens", "tokens_cos")]
    return (
        enriched.select(*cols)
        .groupBy("urit")
        .applyInPandas(kernel, schema=_SCHEMA)
    )
