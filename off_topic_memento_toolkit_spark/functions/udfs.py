"""Arrow-batched pandas UDFs wrapping the pure-Python kernels.

Every per-document text kernel runs in ONE enrichment UDF
(:func:`make_enrich_udf`): a row crosses into Python once and is extracted
and tokenized at most once.  The token Levenshtein reads its tokens after
the anchor window; the MinHash bands read pinned tokens, or the whole
enrichment struct, which Spark chains into the enrichment's own node.

Per-output contracts (the reference's error semantics,
otmt/timemap_measures.py:157-176, otmt/collectionmodel.py:465-466):
- ``text``: the given text, else extracted from html; null/empty html →
  null (callers emit error rows);
- ``tokens``: ``full_tokenize(text)``; null text → null, "" → [];
- ``raw_simhash``: of html, never of the given text, incl. the reference's
  str(bytes) quirk (otmt/metadata_calcluations.py:56-58); null html → null;
- ``tf_simhash`` / ``top20``: over ``tokens``; null tokens → null;
- ``tokens_cos``: ``full_tokenize(text.lower())`` (sklearn lowercases
  first, otmt/timemap_measures.py:680-681); null text → null.
"""

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .minhash import (
    DEFAULT_BANDS,
    DEFAULT_NUM_PERM,
    DEFAULT_SHINGLE_WORDS,
    band_hashes,
    minhash_signature,
)
from .seqdist import levenshtein_np as _levenshtein
from .textprep import enrich_document

# the enrichment's outputs (textprep.enrich_document), in struct-field order
ENRICH_OUTPUTS = {
    "text": T.StringType(),
    "tokens": T.ArrayType(T.StringType()),
    "raw_simhash": T.LongType(),
    "tf_simhash": T.LongType(),
    "top20": T.ArrayType(T.StringType()),
    "tokens_cos": T.ArrayType(T.StringType()),
}


def make_enrich_udf(outputs):
    """Pandas UDF ``(html, text)`` → struct of ``outputs`` (keys of
    :data:`ENRICH_OUTPUTS`).  Pass a null text column when there is none."""
    names = [name for name in ENRICH_OUTPUTS if name in outputs]
    if not names or len(names) != len(set(outputs)):
        raise ValueError(f"bad enrichment outputs: {outputs}")
    wanted = frozenset(names)

    @F.pandas_udf(T.StructType(
        [T.StructField(name, ENRICH_OUTPUTS[name]) for name in names]))
    def enrich_udf(html: pd.Series, text: pd.Series) -> pd.DataFrame:
        rows = [enrich_document(h, t, wanted) for h, t in zip(html, text)]
        # object columns: a null among longs must not make them floats
        return pd.DataFrame({
            name: pd.Series([row[name] for row in rows], dtype=object)
            for name in names})

    return enrich_udf


@F.pandas_udf(T.IntegerType())
def token_levenshtein_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    def _lev(pair):
        left, right = pair
        if left is None or right is None:
            return None
        return _levenshtein(list(left), list(right))

    return pd.Series(map(_lev, zip(a, b)))


def make_minhash_bands_udf(
    num_perm: int = DEFAULT_NUM_PERM,
    shingle_words: int = DEFAULT_SHINGLE_WORDS,
    bands: int = DEFAULT_BANDS,
    seed: int = 1234567,
):
    """array<long> of ``bands`` band-hashes per document (LSH keys), from
    token arrays or from the enrichment struct (its ``tokens``).

    Empty token lists yield NULL, not the EMPTY_SLOT sentinel bands, so a
    downstream ``posexplode`` drops them and band-table builders need no
    filter on a UDF output (which the optimizer would push below the
    enrichment exchange, evaluating the enrichment twice)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash_bands_udf(tokens: pd.Series) -> pd.Series:
        if isinstance(tokens, pd.DataFrame):
            tokens = tokens["tokens"]
        def _bands(value):
            if value is None or len(value) == 0:
                return None
            signature = minhash_signature(
                list(value), num_perm=num_perm,
                shingle_words=shingle_words, seed=seed,
            )
            return band_hashes(signature, bands)

        return tokens.map(_bands)

    return minhash_bands_udf
