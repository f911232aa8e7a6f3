"""Per-timeline group kernels: TF-IDF cosine and LSI similarity-to-first.

These are the two measures whose fit spans the WHOLE timeline (vocabulary /
IDF / SVD over all documents of a url), so they run as grouped-map pandas
kernels over ``groupBy(urit)`` (``applyInPandas``) — the one place the
reference's buffering design (otmt/timemap_measures.py:628,647,792,814) is
semantically required.

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .measures_constants import (
    FIRST_BP_ERROR_MSG,
    FIRST_EMPTY_MSG,
    GROUP_SCORES_SCHEMA,
)

_SCHEMA = GROUP_SCORES_SCHEMA


def _rows(urit, urims, measure, scores=None, error=None):
    n = len(urims)
    return pd.DataFrame({
        "urit": [urit] * n,
        "urim": list(urims),
        "measuretype": ["timemap measures"] * n,
        "measure": [measure] * n,
        "comparison_score": list(scores) if scores is not None else [None] * n,
        "tokenized": [True] * n,
        "stemmed": [True] * n,
        "removed_boilerplate": [True] * n,
        "error_msg": [error] * n,
    })


def _tfidf_cosine(token_lists):
    """sklearn-formula TF-IDF + cosine of row 0 vs all rows."""
    vocab = sorted({t for tokens in token_lists for t in tokens})
    if not vocab:
        raise ValueError("empty vocabulary")
    index = {t: i for i, t in enumerate(vocab)}
    n = len(token_lists)
    X = np.zeros((n, len(vocab)), dtype=np.float64)
    for row, tokens in enumerate(token_lists):
        for t in tokens:
            X[row, index[t]] += 1.0
    df = (X > 0).sum(axis=0)
    idf = np.log((1.0 + n) / (1.0 + df)) + 1.0
    X *= idf
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    X /= norms[:, None]
    return X @ X[0]


def _lsi_similarity(token_lists, num_topics):
    """Exact truncated-SVD projection; cosine of each doc to doc 0."""
    vocab = sorted({t for tokens in token_lists for t in tokens})
    if not vocab:
        raise ValueError("empty vocabulary")
    index = {t: i for i, t in enumerate(vocab)}
    n = len(token_lists)
    X = np.zeros((n, len(vocab)), dtype=np.float64)
    for row, tokens in enumerate(token_lists):
        for t in tokens:
            X[row, index[t]] += 1.0
    k = min(num_topics, min(X.shape))
    # exact SVD; projection onto top-k right-singular basis
    _, _, vt = np.linalg.svd(X, full_matrices=False)
    proj = X @ vt[:k].T
    norms = np.linalg.norm(proj, axis=1)
    norms[norms == 0] = 1.0
    unit = proj / norms[:, None]
    return unit @ unit[0]


def _lda_similarity(token_lists, num_topics, seed=42, iterations=50):
    """Deterministic seeded LDA-ish topic mixture + cosine to doc 0.
    Parity with gensim is explicitly out of scope (non-deterministic there)."""
    vocab = sorted({t for tokens in token_lists for t in tokens})
    if not vocab:
        raise ValueError("empty vocabulary")
    index = {t: i for i, t in enumerate(vocab)}
    n, v = len(token_lists), len(vocab)
    X = np.zeros((n, v), dtype=np.float64)
    for row, tokens in enumerate(token_lists):
        for t in tokens:
            X[row, index[t]] += 1.0
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
        weighted = resp * X[:, None, :]
        theta = weighted.sum(axis=2) + 1e-9
        theta /= theta.sum(axis=1, keepdims=True)
        phi = weighted.sum(axis=0) + 1e-9
        phi /= phi.sum(axis=1, keepdims=True)
    norms = np.linalg.norm(theta, axis=1)
    norms[norms == 0] = 1.0
    unit = theta / norms[:, None]
    return unit @ unit[0]


# past the cap, mementos get an error row instead of a silently-wrong fit
CAP_ERROR_MSG = ("Timeline exceeds the per-timeline document cap for whole-"
                 "timeline measures; memento excluded from the fit")

# groups beyond this buffer nothing more into the pandas kernel — a viral
# host's 10^6-memento timeline would otherwise OOM one executor task
DEFAULT_MAX_DOCS_PER_TIMELINE = 20_000


def make_group_kernel(measures, num_topics_overrides=None,
                      max_docs_per_timeline=DEFAULT_MAX_DOCS_PER_TIMELINE):
    measures = list(measures)
    overrides = num_topics_overrides or {}

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULLS FIRST, matching the pairwise path's Spark window ordering
        # (ascending nulls-first) — pandas defaults NaT LAST, which would
        # anchor the grouped measures on a different "first memento" than
        # the pairwise measures whenever a warc_ts failed to parse
        pdf = pdf.sort_values(["warc_ts", "urim"], kind="mergesort",
                              na_position="first")
        urit = pdf["urit"].iloc[0]
        text_len = pdf["text_len"]
        out = []
        for measure in measures:
            urims = pdf["urim"].tolist()
            first_len = text_len.iloc[0]
            if pd.isna(first_len):
                out.append(_rows(urit, urims, measure, error=FIRST_BP_ERROR_MSG))
                continue
            if first_len == 0:
                out.append(_rows(urit, urims, measure, error=FIRST_EMPTY_MSG))
                continue

            ok_mask = text_len.notna()
            capped_mask = ok_mask & False
            if max_docs_per_timeline and ok_mask.sum() > max_docs_per_timeline:
                keep = ok_mask.cumsum() <= max_docs_per_timeline
                capped_mask = ok_mask & ~keep
                ok_mask &= keep
            ok_urims = pdf.loc[ok_mask, "urim"].tolist()
            bad_urims = pdf.loc[~(ok_mask | capped_mask), "urim"].tolist()
            capped_urims = pdf.loc[capped_mask, "urim"].tolist()

            # tokens were computed ONCE upstream (enrich_pages) — the kernel
            # consumes arrays, it never re-runs treebank+porter (the
            # reference's 12x-reprocess bug)
            column = "tokens_cos" if measure == "cosine" else "tokens"
            docs = [list(v) for v in pdf.loc[ok_mask, column]]

            try:
                if measure == "cosine":
                    sims = _tfidf_cosine(docs)
                elif measure == "gensim_lsi":
                    sims = _lsi_similarity(docs, overrides.get(measure, 10))
                elif measure == "gensim_lda":
                    sims = _lda_similarity(docs, overrides.get(measure, 2))
                else:
                    raise ValueError(measure)
            except ValueError as exc:
                out.append(_rows(urit, urims, measure, error=repr(exc)))
                continue

            out.append(_rows(urit, ok_urims, measure, scores=[float(s) for s in sims]))
            if bad_urims:
                out.append(_rows(
                    urit, bad_urims, measure,
                    error="Boilerplate could not be removed from memento",
                ))
            if capped_urims:
                out.append(_rows(urit, capped_urims, measure,
                                 error=CAP_ERROR_MSG))
        return pd.concat(out, ignore_index=True) if out else _rows(urit, [], "cosine")

    return kernel


def score_group_measures(
    enriched: DataFrame,
    measures,
    num_topics_overrides=None,
    max_docs_per_timeline=DEFAULT_MAX_DOCS_PER_TIMELINE,
) -> DataFrame:
    """Run the grouped kernels; input must carry urit, urim, warc_ts, text
    and tokens (LSI/LDA consume the shared ``tokens`` column), and for
    cosine ``tokens_cos`` — sklearn lowercases before tokenizing, so its
    token stream genuinely differs (``enrich_pages`` computes it in the
    same Python pass as ``tokens``)."""
    measures = list(measures)
    kernel = make_group_kernel(measures, num_topics_overrides,
                               max_docs_per_timeline)
    none = F.lit(None).cast("array<string>")
    cols = [F.col("urit"), F.col("urim"), F.col("warc_ts"),
            F.length("text").alias("text_len"),
            F.col("tokens") if any(m != "cosine" for m in measures)
            else none.alias("tokens"),
            F.col("tokens_cos") if "cosine" in measures
            else none.alias("tokens_cos")]
    return (
        enriched.select(*cols)
        .groupBy("urit")
        .applyInPandas(kernel, schema=_SCHEMA)
    )
