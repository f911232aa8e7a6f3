"""Pure-Python text kernels (executor-side, imported by pandas UDFs).

These reimplement, from published algorithm descriptions, the semantics the
reference gets from nltk / justext / simhash / distance / sklearn:

- :mod:`.treebank`   — Penn-Treebank word tokenization (nltk ``word_tokenize``)
- :mod:`.porter`     — Porter stemmer, NLTK-extensions rule set
- :mod:`.stopwords`  — frozen English stopword list + punctuation
- :mod:`.textprep`   — ``full_tokenize`` / ``extract_text`` pipelines
                       (reference: otmt/timemap_measures.py:45-62,
                        otmt/collectionmodel.py:456-463) and
                       ``enrich_document``, one document's enrichment
- :mod:`.simhash64`  — 64-bit md5 SimHash (simhash lib semantics)
- :mod:`.minhash`    — MinHash signatures over word shingles (new, north_rule)
- :mod:`.seqdist`    — token-sequence Levenshtein / normalized Levenshtein
"""
