"""entitysummarization_spark — a PySpark-native knowledge-graph-construction
and fact-ranking engine.

From-scratch re-expression of the capabilities of
mallahyari/EntitySummarization (single-node Java; see SURVEY.md) as an
idiomatic Spark DataFrame pipeline:

    repos (repo, path, commit, lang, content)
      → extract_triples (vectorized mapInPandas)      [operators.extraction]
      → entity linking (broadcast dict join + AC UDF) [operators.linking]
      → canonicalization (skew-aware groupBy)         [operators.canonicalize]
      → corpus (doc_id, word_id, freq)                [operators.corpus]
      → constrained collapsed Gibbs (AD-LDA)          [models.gibbs]
      → θ/φ posteriors → top-k entity summaries       [operators.summary]

plus the large-scale training-data operators (dedup, similarity search,
text analysis) under operators/.
"""

__version__ = "0.1.0"

from entitysummarization_spark import _zipimport  # noqa: E402,F401  (worker-side only)
