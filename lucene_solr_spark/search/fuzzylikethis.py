"""FuzzyLikeThisQuery — "fuzzify" a free-text query: each analyzed
source term expands to its fuzzy variants, variants are ranked by a
mix of edit-distance similarity and the SOURCE term's IDF (so
misspellings don't out-idf correct forms), and the global top
``maxNumTerms`` variants are searched as a SHOULD-sum of term queries
whose index statistics are ARTIFICIALLY pinned to df=1.

Reference: lucene/sandbox/src/java/org/apache/lucene/sandbox/queries/
FuzzyLikeThisQuery.java —

- addTerms(:191-252): per unique source term, enumerate fuzzy variants
  (FuzzyTermsEnum: Damerau-Levenshtein <= maxEdits after the required
  common prefix; variant boost = 1 - ed/min(|source|,|variant|),
  FuzzyTermsEnum.java:270-283); keep the top MAX_VARIANTS_PER_TERM=50
  per term by (boost desc, term asc — ScoreTermQueue.lessThan:363-368
  prefers the lexicographically smaller term on boost ties); count ALL
  enumerated variants into numVariants/totalVariantDocFreqs (boost-0
  variants included); ``avgDf = totalVariantDocFreqs / numVariants``
  (INTEGER division, :237); the idf df is the SOURCE term's df, or
  avgDf when the source term is absent (:238-241); each kept variant's
  score becomes ``boost² * ClassicSimilarity.idf(df, numDocs)``
  (:247-248, idf = ln((docCount+1)/(df+1)) + 1, TFIDFSimilarity).
- rewrite(:281-339): the global ScoreTermQueue keeps the top
  maxNumTerms variants by (score desc, term asc); each becomes a
  BoostQuery(TermQuery with an artificial TermStates whose df and ttf
  total 1, newTermQuery:254-273) in a flat SHOULD BooleanQuery — so at
  search time the default BM25 similarity sees docFreq=1:
  ``idf₁ = ln(1 + (N - 1 + 0.5)/(1 + 0.5))``, with real norms, freqs
  and avgdl.

score(doc) = Σ over kept variants v matching doc:
  score_v · idf₁ · freq/(freq + k1·(1 - b + b·qdl/avgdl))

Double-precision/round(4) parity regime (same as the fuzzy_scored and
SimilarityBase gates); Java float intermediates are a declared
divergence absorbed by the rounding.

Plan shape at scale: the expansion is a pruned dictionary scan
returning ≤ |source terms| × candidates rows to the driver (exactly
the TermsEnum walk the reference does driver-side), then the standard
scorer relation (scoring.scored_postings: the kept variants' postings
joined to broadcast weights and the broadcast 256-row norm cache) —
cost scales with the kept variants' postings, never the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bm25
from ..functions.editdist import damerau_levenshtein
from .scoring import empty_scores, scored_postings

__all__ = ["fuzzy_like_this"]

MAX_VARIANTS_PER_TERM = 50


def fuzzy_like_this(
    tables,
    source_terms,
    max_edits: int = 2,
    prefix_length: int = 0,
    max_num_terms: int = 50,
    k: int | None = 10,
    k1=bm25.K1,
    b=bm25.B,
) -> DataFrame:
    """Top-k over the fuzzified ``source_terms`` (already analyzed,
    deduped in first-seen order as the reference's processedTerms set).
    → DataFrame(doc_id long, score double) ordered
    (score desc, doc_id asc)."""
    n_docs = int(tables.doc_count)
    all_scored = []  # (variant term, st.score)
    for src in dict.fromkeys(source_terms):
        cand = tables.dictionary
        if prefix_length > 0:
            cand = cand.filter(
                F.col("term").startswith(src[:prefix_length])
            )
        rows = (
            cand.withColumn("ed", damerau_levenshtein(F.col("term"), src))
            .filter(F.col("ed") <= max_edits)
            .select("term", "df", "ed")
            .collect()
        )
        if not rows:
            continue
        variants = [
            (
                r["term"],
                int(r["df"]),
                1.0 - float(r["ed"]) / float(min(len(src), len(r["term"]))),
            )
            for r in rows
        ]
        num_variants = len(variants)
        total_variant_df = sum(df for _, df, _ in variants)
        df_src = next((df for t, df, _ in variants if t == src), 0)
        df_eff = df_src if df_src > 0 else total_variant_df // num_variants
        idf_src = math.log((n_docs + 1) / float(df_eff + 1)) + 1.0
        variants.sort(key=lambda v: (-v[2], v[0]))
        for term, _df, boost in variants[:MAX_VARIANTS_PER_TERM]:
            all_scored.append((term, boost * boost * idf_src, src))

    if not all_scored:
        return empty_scores(tables.dictionary.sparkSession, "double")
    # (score desc, term asc) per ScoreTermQueue.lessThan; the source
    # term as a final key pins exact-duplicate order the reference's
    # queue leaves unspecified (declared refinement).
    all_scored.sort(key=lambda v: (-v[1], v[0], v[2]))
    kept = [(t, s) for t, s, _src in all_scored[:max_num_terms]]

    # Search-time BM25 with the ARTIFICIAL df=1 term statistics.
    idf1 = math.log(1.0 + (n_docs - 1 + 0.5) / (1 + 0.5))
    weights = [(t, s * idf1) for t, s in kept]
    out = (
        scored_postings(tables, weights, k1, b, "double")
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return out.limit(k) if k is not None else out
