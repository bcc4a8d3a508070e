"""Coverage batch 3: highlighter, MoreLikeThis, suggest/spellcheck,
nested + range facets, statistical stream evaluators, geodist.

Same cross-engine determinism rules as gate.py: identical expression
trees on both sides, DECIMAL for order-sensitive float sums, final
ROUND on every transcendental, every computed column aliased the same.
"""

from __future__ import annotations

import math

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .gate import (_NORM_VALUES, _TOKS, bm25_scored_cte, doc_tokens,
                   docs_index, docs_title_index, gate, load)
from .search.bruteforce import search_bruteforce
from .gate_ext import _SPAN_CTE, _span_score_sql

# ------------------------------------------------------------ highlighter

_HL_TERMS = ["spark", "merge"]


def _hl_sql(terms, frag_size=100, lead=30, max_doc=100):
    import re

    # mirror the engine exactly: lowercase each term, regex-escape the
    # markup pattern (highlight.py does t.lower() / re.escape)
    lowered = [t.lower() for t in terms]
    pos = ", ".join(
        f"CASE WHEN strpos(lower(text), '{t}') > 0 "
        f"THEN strpos(lower(text), '{t}') ELSE 2147483647 END"
        for t in lowered
    )
    pat = "(" + "|".join(re.escape(t) for t in lowered) + ")"
    return f"""
WITH p AS (
  SELECT doc_id, text, least({pos}) AS mp FROM documents
  WHERE doc_id < {max_doc}
)
SELECT doc_id,
       CAST(mp AS BIGINT) AS first_pos,
       regexp_replace(
         lower(substr(text, CAST(greatest(1, mp - {lead}) AS BIGINT), {frag_size})),
         '{pat}', '<em>\\1</em>', 'g') AS fragment
FROM p WHERE mp < 2147483647
ORDER BY doc_id"""


def _passage_sql(terms, window=32, k1=1.2, max_doc=100):
    tl = ",".join(f"'{t.lower()}'" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS pos
  FROM documents WHERE doc_id < {max_doc}
),
ptoks AS (SELECT doc_id, term, pos,
                 CAST(floor((pos - 1) / {window}) AS BIGINT) AS passage
          FROM toks),
stats AS (SELECT count(*) AS doc_count FROM documents WHERE doc_id < {max_doc}),
qt AS (SELECT * FROM ptoks WHERE term IN ({tl})),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY term),
tf AS (SELECT doc_id, passage, term, count(*) AS freq
       FROM qt GROUP BY doc_id, passage, term),
scored AS (
  SELECT tf.doc_id, tf.passage,
         round(sum(ln(1 + (s.doc_count - d.df + 0.5) / (d.df + 0.5))
                   * (tf.freq / (tf.freq + {k1}))), 4) AS passage_score,
         count(*) AS n_terms, sum(tf.freq) AS n_matches
  FROM tf JOIN dfs d USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.passage
),
best AS (SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY passage_score DESC, passage ASC) AS rn
         FROM scored),
win AS (SELECT doc_id, passage, passage_score, n_terms, n_matches
        FROM best WHERE rn = 1),
ptext AS (SELECT p.doc_id, p.passage,
                 string_agg(CASE WHEN p.term IN ({tl})
                                 THEN '<em>' || p.term || '</em>'
                                 ELSE p.term END, ' ' ORDER BY p.pos)
                   AS passage_text
          FROM ptoks p JOIN win USING (doc_id, passage)
          GROUP BY p.doc_id, p.passage)
SELECT w.doc_id, w.passage, w.passage_score,
       CAST(w.n_terms AS BIGINT) AS n_terms,
       CAST(w.n_matches AS BIGINT) AS n_matches,
       t.passage_text
FROM win w JOIN ptext t USING (doc_id, passage)
ORDER BY w.doc_id"""


@gate("fts_passage_highlight", _passage_sql(_HL_TERMS))
def fts_passage_highlight(spark, sf_dir):
    """Passage-scored highlighting (UnifiedHighlighter/PassageScorer
    analog — reference lucene/highlighter/.../uhighlight/
    UnifiedHighlighter.java, PassageScorer.java): BM25-weighted fixed
    token windows, best passage per doc, term markup. The oracle
    recomputes windows, idf weights, tf saturation, the per-doc argmax
    and the marked-up passage string from raw text."""
    from .search.highlight import best_passages

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return best_passages(docs, _HL_TERMS, window=32).select(
        "doc_id",
        "passage",
        "passage_score",
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("n_matches").cast("long").alias("n_matches"),
        "passage_text",
    )


@gate("fts_highlight", _hl_sql(_HL_TERMS))
def fts_highlight(spark, sf_dir):
    """Highlighter module: best-fragment + SimpleHTMLFormatter markup
    as pure JVM Column expressions (search/highlight.py). Reference
    lucene/highlighter/.../Highlighter.java:60-96."""
    from .search.highlight import highlight

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        highlight(docs, "text", _HL_TERMS, frag_size=100, lead=30)
        .select(
            "doc_id",
            F.col("first_pos").cast("long").alias("first_pos"),
            "fragment",
        )
        .orderBy("doc_id")
    )


# ----------------------------------------------------------- MoreLikeThis

_MLT_DOC = 1

_MLT_COMMON = f"""
WITH toks AS ({_TOKS}),
nd AS (SELECT count(*) AS n FROM documents),
tf AS (SELECT term, count(*) AS tf FROM toks WHERE doc_id = {_MLT_DOC} GROUP BY term),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
sel AS (
  SELECT tf.term, tf.tf, dfs.df,
         round(tf.tf * (ln(nd.n / (dfs.df + 1.0)) + 1.0), 4) AS mlt_score
  FROM tf JOIN dfs USING (term) CROSS JOIN nd
  WHERE tf.tf >= 2 AND dfs.df >= 5
)"""


@gate(
    "fts_mlt_terms",
    _MLT_COMMON
    + """
SELECT term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, mlt_score
FROM sel ORDER BY mlt_score DESC, term ASC LIMIT 25""",
)
def fts_mlt_terms(spark, sf_dir):
    """MoreLikeThis interesting-term selection: tf*idf gated by
    minTermFreq=2/minDocFreq=5 (reference lucene/queries/.../mlt/
    MoreLikeThis.java:143-170,616-660)."""
    from .search.mlt import mlt_terms

    t = mlt_terms(docs_index(spark, sf_dir), _MLT_DOC, 2, 5, 25)
    return t.select(
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "mlt_score",
    )


@gate(
    "fts_morelikethis",
    _MLT_COMMON
    + f""",
top AS (SELECT term FROM sel ORDER BY mlt_score DESC, term ASC LIMIT 10),
cand AS (
  SELECT t.doc_id, count(*) AS overlap
  FROM (SELECT DISTINCT doc_id, term FROM toks) t JOIN top USING (term)
  WHERE t.doc_id <> {_MLT_DOC}
  GROUP BY t.doc_id)
SELECT doc_id, CAST(overlap AS BIGINT) AS overlap
FROM cand ORDER BY overlap DESC, doc_id ASC LIMIT 10""",
)
def fts_morelikethis(spark, sf_dir):
    """MoreLikeThis retrieval: top-10 docs sharing the most selected
    terms (broadcast semi-join of postings against ≤10 terms)."""
    from .search.mlt import more_like_this

    r = more_like_this(docs_index(spark, sf_dir), _MLT_DOC, 10, 2, 5, 10)
    return r.select("doc_id", F.col("overlap").cast("long").alias("overlap"))


# ----------------------------------------------------- suggest/spellcheck


@gate(
    "fts_suggest_prefix",
    f"""
WITH toks AS ({_TOKS}),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term)
SELECT term, CAST(df AS BIGINT) AS weight FROM dfs
WHERE term LIKE 's%'
ORDER BY weight DESC, term ASC LIMIT 10""",
)
def fts_suggest_prefix(spark, sf_dir):
    """Prefix suggester over the term dictionary, df-weighted
    (reference lucene/suggest/.../analyzing/AnalyzingSuggester.java)."""
    from .search.suggest import suggest_prefix

    s = suggest_prefix(docs_index(spark, sf_dir), "s", 10)
    return s.select("term", F.col("weight").cast("long").alias("weight"))


@gate(
    "fts_spellcheck",
    f"""
WITH toks AS ({_TOKS}),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term)
SELECT term,
       CAST(levenshtein(term, 'qery') AS BIGINT) AS distance,
       CAST(df AS BIGINT) AS df
FROM dfs
WHERE length(term) BETWEEN 2 AND 6
  AND levenshtein(term, 'qery') BETWEEN 1 AND 2
ORDER BY distance ASC, df DESC, term ASC LIMIT 5""",
)
def fts_spellcheck(spark, sf_dir):
    """DirectSpellChecker: nearest dictionary terms within maxEdits=2,
    ranked (distance, df) (reference lucene/suggest/.../spell/
    DirectSpellChecker.java:42-60)."""
    from .search.suggest import spellcheck

    s = spellcheck(docs_index(spark, sf_dir), "qery", 2, 5)
    return s.select(
        "term",
        F.col("distance").cast("long").alias("distance"),
        F.col("df").cast("long").alias("df"),
    )


@gate(
    "fts_suggest_context",
    """WITH s AS (
  SELECT array_to_string(
           list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 4),
           ' ') AS surface,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl,
         lang
  FROM documents),
g AS (SELECT surface, max(dl) AS weight,
             list_sort(list_distinct(list(lang))) AS ctxs
      FROM s WHERE surface <> '' GROUP BY surface)
SELECT surface AS key, CAST(weight AS BIGINT) AS weight,
       array_to_string(ctxs, ',') AS ctx_s
FROM g
WHERE surface LIKE 's%'
  AND (list_contains(ctxs, 'en') OR list_contains(ctxs, 'fr'))
ORDER BY weight DESC, key ASC LIMIT 10""",
)
def fts_suggest_context(spark, sf_dir):
    """ContextQuery: analyzing-suggester completions of 's' filtered to
    suggestions whose context set intersects {en, fr} (search/
    suggest.py context_suggest; reference lucene/suggest/.../document/
    ContextQuery.java, ContextSuggestField.java)."""
    from .search.suggest import build_suggestions_with_contexts, context_suggest

    docs = load(spark, sf_dir, "documents")
    sugg = build_suggestions_with_contexts(docs, "text", "lang")
    return context_suggest(sugg, "s", ["en", "fr"], k=10).select(
        "key",
        F.col("weight").cast("long").alias("weight"),
        F.array_join("contexts", ",").alias("ctx_s"),
    )


@gate(
    "fts_spell_collation",
    f"""WITH toks AS ({_TOKS}),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
q(qterm) AS (VALUES ('slo'), ('querry')),
cand AS (SELECT q.qterm, d.term, levenshtein(d.term, q.qterm) AS dist, d.df,
                row_number() OVER (
                  PARTITION BY q.qterm
                  ORDER BY levenshtein(d.term, q.qterm) ASC, d.df DESC,
                           d.term ASC) AS rk
         FROM q JOIN dfs d
           ON levenshtein(d.term, q.qterm) BETWEEN 1 AND 2
          AND length(d.term) BETWEEN length(q.qterm) - 2
                                 AND length(q.qterm) + 2),
best AS (SELECT qterm, term FROM cand WHERE rk = 1),
nb AS (SELECT count(*) AS nb FROM best),
coll AS (SELECT string_agg(term, ' ' ORDER BY qterm) AS collated,
                count(*) AS n_terms FROM best),
perdoc AS (SELECT t.doc_id, count(DISTINCT t.term) AS nt
           FROM toks t JOIN best b ON t.term = b.term
           GROUP BY t.doc_id),
hits AS (SELECT count(*) AS n_hits FROM perdoc CROSS JOIN nb
         WHERE perdoc.nt = nb.nb)
SELECT c.collated, CAST(c.n_terms AS BIGINT) AS n_terms,
       CAST(h.n_hits AS BIGINT) AS n_hits
FROM coll c CROSS JOIN hits h""",
)
def fts_spell_collation(spark, sf_dir):
    """SpellCheckCollator: take the best correction per misspelled
    query term (DirectSpellChecker rank: distance, df), assemble the
    collated query, and verify it — n_hits = docs matching ALL
    corrected terms, the collator's maxCollationTries re-query
    (reference solr/core/.../spelling/SpellCheckCollator.java:53-120).
    One dictionary scan + one postings semi-agg; no re-tokenization."""
    from pyspark.sql import Window as W

    tables = docs_index(spark, sf_dir)
    q = spark.createDataFrame([("slo",), ("querry",)], "qterm string")
    d = tables.dictionary.select("term", "df")
    cand = (
        d.crossJoin(F.broadcast(q))
        .filter(
            F.length("term").between(
                F.length("qterm") - 2, F.length("qterm") + 2
            )
        )
        .withColumn("dist", F.levenshtein(F.col("term"), F.col("qterm")))
        .filter(F.col("dist").between(1, 2))
    )
    rk = W.partitionBy("qterm").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    best = (
        cand.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("qterm", "term")
    )
    coll = best.agg(
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("qterm", "term")))
            .getField("term")
        ).alias("collated"),
        F.count("*").alias("n_terms"),
    ).select(
        # no candidates → NULL collation (string_agg semantics), not ''
        F.when(F.col("n_terms") > 0, F.col("collated")).alias("collated"),
        "n_terms",
    )
    n_best = best.select(F.count("*").alias("nb"))
    hits = (
        tables.postings.join(F.broadcast(best.select("term")), "term")
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .crossJoin(F.broadcast(n_best))
        .filter(F.col("nt") == F.col("nb"))
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        coll.crossJoin(hits)
        .select(
            "collated",
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("n_hits").cast("long").alias("n_hits"),
        )
    )


@gate(
    "fts_word_breaks",
    f"""
WITH toks AS ({_TOKS}),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
w(input) AS (VALUES ('sortmerge'), ('scanline'), ('hashjoin'),
                    ('sparkmerge')),
s AS (SELECT input, unnest(range(2, length(input) - 1)) AS i FROM w),
sp AS (SELECT input, substr(input, 1, i) AS lft, substr(input, i + 1) AS rgt
       FROM s)
SELECT sp.input, sp.lft, sp.rgt,
       CAST(a.df AS BIGINT) AS df_left, CAST(b.df AS BIGINT) AS df_right,
       CAST(a.df + b.df AS BIGINT) AS freq_sum
FROM sp JOIN dict a ON a.term = sp.lft JOIN dict b ON b.term = sp.rgt
ORDER BY freq_sum DESC, input ASC, lft ASC LIMIT 20""",
)
def fts_word_breaks(spark, sf_dir):
    """WordBreakSpellChecker.suggestWordBreaks: run-together compounds
    split where both halves are dictionary terms, ranked by summed df
    (reference lucene/suggest/.../spell/WordBreakSpellChecker.java:
    73-107; search/suggest.py word_breaks). The split candidates
    broadcast; the dictionary is equi-join probed twice."""
    from .search.suggest import word_breaks

    wb = word_breaks(
        docs_index(spark, sf_dir),
        ["sortmerge", "scanline", "hashjoin", "sparkmerge"],
        min_break_length=2, k=20,
    )
    return wb.select(
        "input", "lft", "rgt",
        F.col("df_left").cast("long").alias("df_left"),
        F.col("df_right").cast("long").alias("df_right"),
        F.col("freq_sum").cast("long").alias("freq_sum"),
    )


@gate(
    "fn_index_stats",
    f"""
WITH toks AS ({_TOKS}),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS numdocs, sum(dl) AS sumttf FROM dl),
tf AS (SELECT doc_id, count(*) AS freq FROM toks
       WHERE term = 'spark' GROUP BY doc_id),
dfq AS (SELECT count(*) AS docfreq, sum(freq) AS totaltermfreq FROM tf)
SELECT tf.doc_id,
       CAST(tf.freq AS BIGINT) AS termfreq,
       round(sqrt(tf.freq), 6) AS tf_classic,
       round(1 + ln((s.numdocs + 1.0) / (d.docfreq + 1.0)), 6) AS idf,
       CAST(dl.dl AS BIGINT) AS dl,
       CAST(d.docfreq AS BIGINT) AS docfreq,
       CAST(d.totaltermfreq AS BIGINT) AS totaltermfreq,
       CAST(s.numdocs AS BIGINT) AS numdocs,
       CAST(s.sumttf AS BIGINT) AS sumttf
FROM tf JOIN dl USING (doc_id) CROSS JOIN dfq d CROSS JOIN stats s
ORDER BY tf.doc_id""",
)
def fn_index_stats(spark, sf_dir):
    """Index-statistic function queries — termfreq/tf/docfreq/
    totaltermfreq/idf/numdocs/sumtotaltermfreq + per-doc length
    (ValueSourceParser.java registrations; ClassicSimilarity tf/idf,
    lucene/core/.../similarities/ClassicSimilarity.java:40-55). The
    oracle recomputes every statistic from raw tokens."""
    from .functions.valuesource import index_stat_values

    return index_stat_values(docs_index(spark, sf_dir), "spark").orderBy(
        "doc_id"
    )


@gate(
    "fn_index_stats_packed",
    f"""
WITH toks AS ({_TOKS}),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS numdocs, sum(dl) AS sumttf FROM dl),
tf AS (SELECT doc_id, count(*) AS freq FROM toks
       WHERE term = 'spark' GROUP BY doc_id),
dfq AS (SELECT count(*) AS docfreq, sum(freq) AS totaltermfreq FROM tf)
SELECT tf.doc_id,
       CAST(d.docfreq AS VARCHAR) || ':' || CAST(d.totaltermfreq AS VARCHAR)
         || ':' || CAST(s.numdocs AS VARCHAR) || ':'
         || CAST(s.sumttf AS VARCHAR) AS consts,
       CAST(tf.freq AS BIGINT) AS termfreq,
       round(sqrt(tf.freq), 6) AS tf_classic,
       round(1 + ln((s.numdocs + 1.0) / (d.docfreq + 1.0)), 6) AS idf,
       CAST(dl.dl AS BIGINT) AS dl
FROM tf JOIN dl USING (doc_id) CROSS JOIN dfq d CROSS JOIN stats s
ORDER BY tf.doc_id""",
)
def fn_index_stats_packed(spark, sf_dir):
    """fn_index_stats with the corpus-constant columns (docfreq, cf,
    numdocs, sumttf) packed into one string key so the tagged-union
    suite slot (2 keys + 4 values) still verifies every statistic."""
    from .functions.valuesource import index_stat_values

    v = index_stat_values(docs_index(spark, sf_dir), "spark")
    return v.select(
        "doc_id",
        F.concat_ws(
            ":", "docfreq", "totaltermfreq", "numdocs", "sumttf"
        ).alias("consts"),
        "termfreq",
        "tf_classic",
        "idf",
        "dl",
    ).orderBy("doc_id")


_SUGG_SQL = """
sraw AS (
  SELECT array_to_string(
           list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 4),
           ' ') AS key,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl
  FROM documents),
sugg AS (SELECT key, max(dl) AS weight FROM sraw WHERE key <> ''
         GROUP BY key)"""


@gate(
    "fts_suggest_analyzing",
    f"""
WITH {_SUGG_SQL}
SELECT key, CAST(weight AS BIGINT) AS weight FROM sugg
WHERE key LIKE 'key agg%'
ORDER BY weight DESC, key ASC LIMIT 10""",
)
def fts_suggest_analyzing(spark, sf_dir):
    """AnalyzingSuggester: multi-token suggestions keyed by analyzed
    form, analyzed-prefix lookup, weight-ordered, surface-deduped at
    max weight (reference lucene/suggest/.../analyzing/
    AnalyzingSuggester.java:59-107)."""
    from .search.suggest import analyzing_suggest, build_suggestions

    sugg = build_suggestions(load(spark, sf_dir, "documents"))
    return analyzing_suggest(sugg, "Key  AGG!", 10).select(
        "key", F.col("weight").cast("long").alias("weight")
    )


@gate(
    "fts_suggest_fuzzy",
    f"""
WITH {_SUGG_SQL}
SELECT key, CAST(weight AS BIGINT) AS weight,
       CAST(levenshtein(substring(key, 1, 7), 'keu agg') AS BIGINT) AS distance
FROM sugg
WHERE substring(key, 1, 1) = 'k'
  AND levenshtein(substring(key, 1, 7), 'keu agg') <= 1
ORDER BY weight DESC, key ASC LIMIT 10""",
)
def fts_suggest_fuzzy(spark, sf_dir):
    """FuzzySuggester: analyzing suggester tolerating maxEdits=1 typo
    in the typed prefix, first nonFuzzyPrefix=1 chars exact (reference
    lucene/suggest/.../analyzing/FuzzySuggester.java:38-77). Query
    'keu agg' (typo) must still complete 'key agg …' suggestions."""
    from .search.suggest import build_suggestions, fuzzy_suggest

    sugg = build_suggestions(load(spark, sf_dir, "documents"))
    return fuzzy_suggest(sugg, "keu agg", 10).select(
        "key",
        F.col("weight").cast("long").alias("weight"),
        F.col("distance").cast("long").alias("distance"),
    )


# ----------------------------------------------------------- nested facet


@gate(
    "rel_facet_nested",
    """
WITH cn AS (
  SELECT n.n_name, c.c_mktsegment, count(*) AS cnt
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, c.c_mktsegment),
tot AS (
  SELECT n_name, sum(cnt) AS nation_cnt,
         row_number() OVER (ORDER BY sum(cnt) DESC, n_name ASC) AS nrank
  FROM cn GROUP BY n_name),
ranked AS (
  SELECT cn.n_name, cn.c_mktsegment, cn.cnt, tot.nation_cnt,
         row_number() OVER (PARTITION BY cn.n_name
                            ORDER BY cn.cnt DESC, cn.c_mktsegment ASC) AS srank
  FROM cn JOIN tot USING (n_name) WHERE tot.nrank <= 5)
SELECT n_name, CAST(nation_cnt AS BIGINT) AS nation_cnt,
       c_mktsegment, CAST(cnt AS BIGINT) AS cnt
FROM ranked WHERE srank <= 3
ORDER BY nation_cnt DESC, n_name ASC, cnt DESC, c_mktsegment ASC""",
)
def rel_facet_nested(spark, sf_dir):
    """Nested JSON facet (facet-within-facet): top-5 nations by customer
    count, top-3 market segments within each (reference solr/core/.../
    search/facet/FacetField.java sub-facet processing). The outer
    top-5-buckets cut is a plain global top-k over the per-nation agg
    — orderBy().limit(5) (TakeOrderedAndProject), never a
    partition-less rank window; the inner cut is a per-nation
    (partitioned) rank window — no extra shuffle of the base table."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    cn = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )
    tot = (
        cn.groupBy("n_name")
        .agg(F.sum("cnt").alias("nation_cnt"))
        .orderBy(F.desc("nation_cnt"), F.asc("n_name"))
        .limit(5)
    )
    ranked = (
        cn.join(tot, "n_name")
        .withColumn(
            "srank",
            F.row_number().over(
                W.partitionBy("n_name").orderBy(
                    F.desc("cnt"), F.asc("c_mktsegment")
                )
            ),
        )
        .filter(F.col("srank") <= 3)
    )
    return ranked.select(
        "n_name",
        F.col("nation_cnt").cast("long").alias("nation_cnt"),
        "c_mktsegment",
        F.col("cnt").cast("long").alias("cnt"),
    ).orderBy(
        F.desc("nation_cnt"), F.asc("n_name"), F.desc("cnt"), F.asc("c_mktsegment")
    )


# --------------------------------------------------- taxonomy facets

_TAX_PATHS = """
  SELECT r.r_name || '/' || n.n_name || '/' || c.c_mktsegment AS path
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey"""


def _tax_paths(spark, sf_dir):
    from .operators.facet import path_col

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            path_col(
                F.col("r_name"), F.col("n_name"), F.col("c_mktsegment")
            ).alias("path")
        )
    )


@gate(
    "rel_facet_taxonomy",
    f"""
WITH p AS ({_TAX_PATHS}),
pre AS (
  SELECT array_to_string(sp[1:i], '/') AS path
  FROM (SELECT string_split(path, '/') AS sp FROM p),
       (SELECT unnest(range(1, 4)) AS i))
SELECT path,
  CAST(len(string_split(path, '/')) AS BIGINT) AS depth,
  CAST(count(*) AS BIGINT) AS cnt
FROM pre GROUP BY path ORDER BY path""",
)
def rel_facet_taxonomy(spark, sf_dir):
    """Taxonomy facet counts at every level (lucene/facet
    FastTaxonomyFacetCounts: each doc increments every ancestor
    ordinal) over the region/nation/segment hierarchy — ancestor
    prefixes built with higher-order functions, one exploded
    hash-agg (operators/facet.py taxonomy_counts)."""
    from .operators.facet import taxonomy_counts

    return (
        taxonomy_counts(_tax_paths(spark, sf_dir))
        .select("path", "depth", "cnt")
        .orderBy("path")
    )


@gate(
    "rel_facet_drilldown",
    f"""
WITH p AS ({_TAX_PATHS})
SELECT string_split(path, '/')[3] AS child,
  CAST(count(*) AS BIGINT) AS cnt
FROM p WHERE path LIKE 'AMERICA/BRAZIL/%'
GROUP BY child ORDER BY child""",
)
def rel_facet_drilldown(spark, sf_dir):
    """DrillDownQuery('AMERICA/BRAZIL') + getTopChildren: prefix
    filter + next-component counts (operators/facet.py drill_down)."""
    from .operators.facet import drill_down

    return (
        drill_down(_tax_paths(spark, sf_dir), "AMERICA/BRAZIL")
        .orderBy("child")
    )


# ------------------------------------------------------------ range facet


@gate(
    "rel_facet_range_buckets",
    """
SELECT CAST(floor(o_totalprice / 25000.0) * 25000 AS BIGINT) AS bucket_lo,
       count(*) AS cnt,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM orders
GROUP BY bucket_lo ORDER BY bucket_lo""",
)
def rel_facet_range_buckets(spark, sf_dir):
    """FacetRange numeric histogram: fixed-width price buckets with
    per-bucket count + exact DECIMAL revenue (reference solr/core/.../
    search/facet/FacetRange.java). Single hash-agg, map-side partials."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            (F.floor(F.col("o_totalprice") / 25000.0) * 25000)
            .cast("long")
            .alias("bucket_lo")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("bucket_lo")
    )


# ----------------------------------------- statistical stream evaluators


@gate(
    "fn_eval_stats",
    """
WITH m AS (
  SELECT l_linestatus,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_linestatus)
SELECT l_linestatus,
       CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS corr_qty_price,
       round((sxy - sx * sy / n) / (n - 1), 4) AS covar_qty_price,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
         AS intercept
FROM m ORDER BY l_linestatus""",
)
def fn_eval_stats(spark, sf_dir):
    """Statistical stream evaluators — corr / covariance / OLS
    regression (reference solr/solrj/.../io/eval/CorrelationEvaluator
    .java, CovarianceEvaluator.java, RegressionEvaluator.java) —
    computed from order-independent DECIMAL moment sums so the result
    is bit-stable under any partitioning (built-in corr() accumulates
    doubles in partition order and is not)."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_linestatus").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_linestatus",
        n.cast("long").alias("n"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
        F.round((sxy - sx * sy / n) / (n - 1), 4).alias("covar_qty_price"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
    ).orderBy("l_linestatus")


# ---------------------------------------------------------------- geodist


@gate(
    "fn_geodist",
    """
WITH pts AS (
  SELECT c_custkey,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer WHERE c_custkey <= 512)
SELECT c_custkey, lat, lon,
       round(2.0 * 6371.0087714 * asin(sqrt(
         sin(radians(40.0 - lat) / 2) * sin(radians(40.0 - lat) / 2)
         + cos(radians(lat)) * cos(radians(40.0))
           * sin(radians(-74.0 - lon) / 2) * sin(radians(-74.0 - lon) / 2)
       )), 3) AS dist_km
FROM pts ORDER BY c_custkey""",
)
def fn_geodist(spark, sf_dir):
    """geodist/hsin function query: haversine great-circle km over
    deterministic synthetic coordinates (reference solr/core/.../search/
    function/distance/HaversineFunction.java:36-80). Pure JVM math,
    narrow projection — no shuffle."""
    from .functions.valuesource import geodist

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 512)
    pts = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7) % 180) - 90 + 0.5).alias("lat"),
        (((F.col("c_custkey") * 13) % 360) - 180 + 0.5).alias("lon"),
    )
    return pts.select(
        "c_custkey",
        "lat",
        "lon",
        F.round(
            geodist(F.col("lat"), F.col("lon"), F.lit(40.0), F.lit(-74.0)), 3
        ).alias("dist_km"),
    ).orderBy("c_custkey")


# ------------------------------------------------- Solr SQL surface parity

# ONE SQL text, executed verbatim by BOTH engines (spark.sql over temp
# views of the parquet tables; DuckDB over the driver's views) — the
# analog of Solr's SQL handler translating ANSI SQL onto the engine
# (reference solr/core/src/java/org/apache/solr/handler/sql/
# CalciteSolrDriver.java + SolrRules.java pushdown).
_SQL_SURFACE = """
SELECT n_name, o_orderpriority,
       count(*) AS cnt,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
GROUP BY n_name, o_orderpriority
ORDER BY n_name, o_orderpriority"""


@gate("sql_analytics_surface", _SQL_SURFACE)
def sql_analytics_surface(spark, sf_dir):
    """SQL entry point: the exact oracle SQL string is executed by
    spark.sql — Catalyst broadcasts nation/customer and keeps the agg
    partial/final (the Calcite-pushdown analog, handler/sql/)."""
    for t in ["orders", "customer", "nation"]:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_SURFACE)


# ----------------------------------------------- TextLogit (rows-only)


def _textlogit_sql(iterations=5, lr=0.5, max_features=20, label_term="spark"):
    """Unrolled-CTE oracle for the full TextLogit pipeline: feature
    selection (df-bounded top-N), `iterations` full-batch GD steps, and
    final classification — training is ~6 CTEs per iteration, exactly
    the operators train_text_logit runs per step (margin sum → sigmoid →
    12dp-DECIMAL err → per-term/bias gradient → 12dp weight update), so
    the driver hash checks the trained weights, not just the classify
    join. Cross-engine determinism: err and weight updates round to 12dp
    (absorbing exp() last-ulp differences), gradient sums are DECIMAL
    (exact, order-independent), update arithmetic `w - lr*g/n` uses the
    identical left-associated expression on both sides."""
    sig = "1.0/(1.0 + exp(-({dot} + {b})))"
    parts = [
        f"toks AS ({_TOKS})",
        "tf AS (SELECT doc_id, term, count(*) AS freq FROM toks"
        " GROUP BY doc_id, term)",
        "nd AS (SELECT count(*) AS n FROM documents)",
        "dict AS (SELECT term, count(*) AS df FROM tf GROUP BY term)",
        "feats AS (SELECT term FROM dict CROSS JOIN nd"
        f" WHERE df >= 2 AND df <= 0.5 * nd.n"
        f" ORDER BY df DESC, term ASC LIMIT {max_features})",
        "x AS (SELECT tf.doc_id, tf.term FROM tf JOIN feats USING (term))",
        "lab AS (SELECT doc_id, CASE WHEN strpos(lower(text),"
        f" '{label_term}') > 0 THEN 1 ELSE 0 END AS label FROM documents)",
        "w0 AS (SELECT term, 0.0 AS w FROM feats)",
        "b0 AS (SELECT 0.0 AS b)",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        s = sig.format(dot=f"coalesce(m{k}.dot, 0.0)", b=f"b{p}.b")
        parts += [
            f"m{k} AS (SELECT x.doc_id, sum(w{p}.w) AS dot FROM x"
            f" JOIN w{p} USING (term) GROUP BY x.doc_id)",
            f"s{k} AS (SELECT l.doc_id, CAST(round({s} - l.label, 12)"
            f" AS DECIMAL(28,12)) AS err FROM lab l"
            f" LEFT JOIN m{k} USING (doc_id) CROSS JOIN b{p})",
            f"g{k} AS (SELECT x.term, CAST(sum(s{k}.err) AS DOUBLE) AS g"
            f" FROM x JOIN s{k} USING (doc_id) GROUP BY x.term)",
            f"bg{k} AS (SELECT CAST(sum(err) AS DOUBLE) AS g FROM s{k})",
            f"w{k} AS (SELECT f.term,"
            f" round(w{p}.w - {lr} * coalesce(g{k}.g, 0.0) / nd.n, 12) AS w"
            f" FROM feats f JOIN w{p} USING (term)"
            f" LEFT JOIN g{k} USING (term) CROSS JOIN nd)",
            f"b{k} AS (SELECT round(b{p}.b - {lr} * bg{k}.g / nd.n, 12) AS b"
            f" FROM b{p} CROSS JOIN bg{k} CROSS JOIN nd)",
        ]
    i = iterations
    final_sig = sig.format(dot="coalesce(d.dot, 0.0)", b=f"b{i}.b")
    parts += [
        f"wf AS (SELECT term, w FROM w{i} WHERE term <> '{label_term}')",
        "dots AS (SELECT tf.doc_id, sum(wf.w) AS dot FROM tf"
        " JOIN wf USING (term) GROUP BY tf.doc_id)",
    ]
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT a.doc_id,
       round({final_sig}, 4) AS prob,
       CAST(CASE WHEN {final_sig} > 0.5 THEN 1 ELSE 0 END AS INTEGER)
         AS prediction
FROM (SELECT doc_id FROM documents) a
LEFT JOIN dots d USING (doc_id) CROSS JOIN b{i}
ORDER BY doc_id"""
    )


@gate("ml_textlogit_classify", _textlogit_sql())
def ml_textlogit_classify(spark, sf_dir):
    """TextLogitStream + FeaturesSelectionStream analog: 5 full-batch
    GD iterations on label = text contains 'spark', features = other
    selected terms; per-doc classification output. Iterative: only the
    weight vector moves between cluster and driver
    (operators/textlogit.py; reference solr/solrj/.../io/stream/
    TextLogitStream.java, FeaturesSelectionStream.java). Oracle: the
    SAME five GD iterations unrolled as CTEs (_textlogit_sql) — the
    hash verifies the trained weights end-to-end."""
    from .operators.textlogit import classify, train_text_logit

    tables = docs_index(spark, sf_dir)
    labels = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.instr(F.lower(F.col("text")), "spark") > 0)
            .cast("int")
            .alias("label"),
        )
    )
    model = train_text_logit(
        tables, labels, max_features=20, iterations=5, learning_rate=0.5
    )
    model["weights"].pop("spark", None)  # don't let the label token leak
    return (
        classify(tables, model)
        .select("doc_id", F.round("prob", 4).alias("prob"), "prediction")
        .orderBy("doc_id")
    )


# ------------------------------------------------ explain / debugQuery

_EXPL_TERMS = ["spark", "merge", "window"]


def _explain_sql(terms):
    from .gate import _NORM_VALUES

    tl = ",".join(f"'{t}'" for t in terms)
    nv = (
        "1.2 * (1.0 - 0.75 + 0.75 * qd.qdl / (s.sum_ttf / s.doc_count))"
    )
    return f"""
WITH toks AS ({_TOKS}),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nt(lo, hi, qdl) AS (VALUES {_NORM_VALUES}),
qd AS (SELECT dl.doc_id, dl.dl, nt.qdl FROM dl
       JOIN nt ON dl.dl BETWEEN nt.lo AND nt.hi),
stats AS (SELECT count(*) AS doc_count, sum(dl) AS sum_ttf FROM dl),
tf AS (SELECT doc_id, term, count(*) AS freq FROM toks
       WHERE term IN ({tl}) GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT tf.doc_id, tf.term,
       CAST(tf.freq AS BIGINT) AS freq,
       CAST(dfs.df AS BIGINT) AS df,
       round(ln(1 + (s.doc_count - dfs.df + 0.5) / (dfs.df + 0.5)), 6)
         AS weight,
       CAST(qd.dl AS INTEGER) AS dl,
       round({nv}, 6) AS norm_val,
       round(tf.freq / (tf.freq + {nv}), 6) AS tf_score,
       round(ln(1 + (s.doc_count - dfs.df + 0.5) / (dfs.df + 0.5))
             * (tf.freq / (tf.freq + {nv})), 6) AS contribution
FROM tf JOIN dfs USING (term)
JOIN qd ON qd.doc_id = tf.doc_id
CROSS JOIN stats s
ORDER BY tf.doc_id, tf.term"""


@gate("fts_explain_scores", _explain_sql(_EXPL_TERMS))
def fts_explain_scores(spark, sf_dir):
    """IndexSearcher.explain / Solr debugQuery analog: one row per
    (doc, term) with every BM25 factor as a column (search/explain.py;
    reference search/similarities/BM25Similarity.java:245-297). Same
    plan shape as one scoring pass — no extra shuffle."""
    from .search.explain import explain_scores

    # exact-double k1/b to mirror the SQL literals (the default
    # bm25.K1 is the float32 1.2 → double 1.2000000476…, visible at
    # round-6 granularity)
    e = explain_scores(docs_index(spark, sf_dir), _EXPL_TERMS, k1=1.2, b=0.75)
    return e.select(
        "doc_id",
        "term",
        "freq",
        "df",
        F.round("weight", 6).alias("weight"),
        "dl",
        F.round("norm_val", 6).alias("norm_val"),
        F.round("tf_score", 6).alias("tf_score"),
        F.round("contribution", 6).alias("contribution"),
    ).orderBy("doc_id", "term")


@gate(
    "fn_spatial_bbox",
    """
WITH pts AS (
  SELECT c_custkey, c_name,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer)
SELECT c_custkey, c_name, lat, lon,
       round(2.0 * 6371.0087714 * asin(sqrt(
         sin(radians(40.0 - lat) / 2) * sin(radians(40.0 - lat) / 2)
         + cos(radians(lat)) * cos(radians(40.0))
           * sin(radians(-74.0 - lon) / 2) * sin(radians(-74.0 - lon) / 2)
       )), 3) AS dist_km
FROM pts
WHERE lat BETWEEN 20.0 AND 60.0 AND lon BETWEEN -100.0 AND -50.0
ORDER BY dist_km ASC, c_custkey ASC LIMIT 20""",
)
def fn_spatial_bbox(spark, sf_dir):
    """Spatial box filter + distance sort: LatLonPoint.newBoxQuery +
    geodist ascending (reference lucene/core/.../document/LatLonPoint.java
    box queries; solr spatial sort-by-geodist). The box predicate is a
    plain range filter → Iceberg min/max pruning at scale; top-20 is
    TakeOrderedAndProject."""
    from .functions.valuesource import geodist

    c = load(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        "c_name",
        (((F.col("c_custkey") * 7) % 180) - 90 + 0.5).alias("lat"),
        (((F.col("c_custkey") * 13) % 360) - 180 + 0.5).alias("lon"),
    ).filter(
        F.col("lat").between(20.0, 60.0) & F.col("lon").between(-100.0, -50.0)
    )
    return pts.select(
        "c_custkey",
        "c_name",
        "lat",
        "lon",
        F.round(
            geodist(F.col("lat"), F.col("lon"), F.lit(40.0), F.lit(-74.0)), 3
        ).alias("dist_km"),
    ).orderBy(F.asc("dist_km"), F.asc("c_custkey")).limit(20)


_GEO_INDEX_CACHE: dict = {}


def _geo_index_dir(spark, sf_dir: str) -> str:
    import tempfile

    if sf_dir not in _GEO_INDEX_CACHE:
        c = load(spark, sf_dir, "customer")
        pts = c.select(
            "c_custkey",
            (((F.col("c_custkey") * 7) % 180) - 90 + 0.5).alias("lat"),
            (((F.col("c_custkey") * 13) % 360) - 180 + 0.5).alias("lon"),
        )
        from .operators.spatial import build_geo_index

        d = tempfile.mkdtemp(prefix="lss_geoidx_")
        build_geo_index(pts, d)
        _GEO_INDEX_CACHE[sf_dir] = d
    return _GEO_INDEX_CACHE[sf_dir]


@gate(
    "fn_geo_cells",
    """
WITH pts AS (
  SELECT c_custkey,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer)
SELECT c_custkey, lat, lon,
       CAST(floor((lat + 90.0) / 5.0) AS BIGINT) * 72
         + CAST(floor((lon + 180.0) / 5.0) AS BIGINT) AS geo_cell
FROM pts
WHERE lat BETWEEN 12.0 AND 47.0 AND lon BETWEEN -81.0 AND -33.0
ORDER BY c_custkey""",
)
def fn_geo_cells(spark, sf_dir):
    """Box query over the AT-REST spatial cell index (LatLonPoint/BKD
    analog, operators/spatial.py): grid cells intersecting the box are
    resolved driver-side and land in PartitionFilters; the exact lat/lon
    predicate verifies survivors. The oracle recomputes the identical
    integer cell ids and the exact box filter from raw points."""
    from .operators.spatial import geo_cell_col

    idx_dir = _geo_index_dir(spark, sf_dir)
    from .operators.spatial import box_query

    res = box_query(spark, idx_dir, 12.0, 47.0, -81.0, -33.0)
    return res.select(
        "c_custkey",
        "lat",
        "lon",
        geo_cell_col(F.col("lat"), F.col("lon")).alias("geo_cell"),
    ).orderBy("c_custkey")


@gate(
    "fn_scale_query",
    """
WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
           FROM orders)
SELECT o_orderkey,
       round(CASE WHEN b.mx - b.mn = 0 THEN 0.0
             ELSE (o_totalprice - b.mn) / (b.mx - b.mn) * (100.0 - 0.0) + 0.0
             END, 6) AS scaled
FROM orders CROSS JOIN b
WHERE o_orderkey <= 256
ORDER BY o_orderkey""",
)
def fn_scale_query(spark, sf_dir):
    """`scale(field, lo, hi)` function query: min-max rescale against
    GLOBAL bounds (reference ValueSourceParser.java `scale` →
    function/ScaleFloatFunction.java, which scans the field once for
    min/max). Spark shape: one agg for the bounds, cross-joined as a
    1-row broadcast — the scan stays distributed."""
    from .functions.valuesource import scale_expr

    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    return (
        o.filter(F.col("o_orderkey") <= 256)
        .crossJoin(F.broadcast(bounds))
        .select(
            "o_orderkey",
            F.round(
                scale_expr(
                    F.col("o_totalprice"), F.col("mn"), F.col("mx"), 0.0, 100.0
                ),
                6,
            ).alias("scaled"),
        )
        .orderBy("o_orderkey")
    )


@gate(
    "fn_math_funcs",
    """
WITH o AS (SELECT * FROM orders WHERE o_orderkey <= 256),
dom AS (SELECT o_orderpriority AS val,
               dense_rank() OVER (ORDER BY o_orderpriority) AS ord
        FROM (SELECT DISTINCT o_orderpriority FROM orders)),
nd AS (SELECT count(*) AS n FROM dom)
SELECT o_orderkey,
  o_orderkey % 13 AS mod13,
  round(abs(o_totalprice - 250000.0), 2) AS ab,
  round(log10(o_totalprice), 6) AS lg,
  round(ln(o_totalprice), 6) AS lnv,
  round(sqrt(o_totalprice), 6) AS sq,
  round(cbrt(o_totalprice), 6) AS cb,
  round(pow(1.0 + o_orderkey % 7, 2.5), 6) AS pw,
  round(sqrt((o_orderkey % 10) * (o_orderkey % 10) + 3.0 * 3.0), 6) AS hyp,
  round(atan2(CAST(o_orderkey % 10 AS DOUBLE), 3.0), 6) AS at2,
  round(greatest(o_totalprice, 250000.0), 2) AS mx,
  round(least(o_totalprice, 250000.0), 2) AS mn,
  CASE WHEN (o_orderkey % 2 = 0 AND o_totalprice > 100000.0)
            OR NOT (o_orderkey % 3 = 0) THEN 1 ELSE 0 END AS bl,
  CASE WHEN (o_orderkey % 2 = 0) <> (o_orderkey % 3 = 0)
       THEN 1 ELSE 0 END AS xr,
  CAST(dom.ord AS BIGINT) AS pri_ord,
  CAST(nd.n - dom.ord + 1 AS BIGINT) AS pri_rord
FROM o JOIN dom ON o.o_orderpriority = dom.val CROSS JOIN nd
ORDER BY o_orderkey""",
)
def fn_math_funcs(spark, sf_dir):
    """Arithmetic/math/boolean/ordinal function-query families
    (ValueSourceParser.java registrations: mod/abs/log/ln/sqrt/cbrt/
    pow/hypot/atan2/max/min/and/or/not/xor/ord/rord) as pure codegen
    Column expressions; ord/rord via the tiny broadcast domain-rank
    mapping (functions/valuesource.py ord_map) — never a corpus-wide
    window."""
    from .functions.valuesource import (
        abs_v, and_v, atan2_v, cbrt_v, hypot_v, log_v, ln_v, max_v, min_v,
        mod_v, not_v, or_v, ord_map, pow_v, sqrt_v, xor_v,
    )

    o_all = load(spark, sf_dir, "orders")
    dom = ord_map(o_all, "o_orderpriority")
    o = o_all.filter(F.col("o_orderkey") <= 256)
    even = F.col("o_orderkey") % 2 == 0
    div3 = F.col("o_orderkey") % 3 == 0
    return (
        o.join(
            F.broadcast(dom), o.o_orderpriority == dom.val
        ).select(
            "o_orderkey",
            mod_v(F.col("o_orderkey"), 13).alias("mod13"),
            F.round(abs_v(F.col("o_totalprice") - 250000.0), 2).alias("ab"),
            F.round(log_v(F.col("o_totalprice")), 6).alias("lg"),
            F.round(ln_v(F.col("o_totalprice")), 6).alias("lnv"),
            F.round(sqrt_v(F.col("o_totalprice")), 6).alias("sq"),
            F.round(cbrt_v(F.col("o_totalprice")), 6).alias("cb"),
            F.round(
                pow_v(1.0 + F.col("o_orderkey") % 7, 2.5), 6
            ).alias("pw"),
            F.round(
                hypot_v((F.col("o_orderkey") % 10).cast("double"), 3.0), 6
            ).alias("hyp"),
            F.round(
                atan2_v((F.col("o_orderkey") % 10).cast("double"), 3.0), 6
            ).alias("at2"),
            F.round(max_v(F.col("o_totalprice"), 250000.0), 2).alias("mx"),
            F.round(min_v(F.col("o_totalprice"), 250000.0), 2).alias("mn"),
            or_v(
                and_v(even, F.col("o_totalprice") > 100000.0), not_v(div3)
            ).cast("int").alias("bl"),
            xor_v(even, div3).cast("int").alias("xr"),
            F.col("ord").alias("pri_ord"),
            F.col("rord").alias("pri_rord"),
        )
        .orderBy("o_orderkey")
    )


@gate(
    "fn_trig_funcs",
    """
WITH o AS (SELECT * FROM orders WHERE o_orderkey <= 256)
SELECT o_orderkey,
  round(sin(CAST(o_orderkey % 10 AS DOUBLE)), 6) AS sn,
  round(cos(CAST(o_orderkey % 10 AS DOUBLE)), 6) AS cs,
  round(tan(CAST(o_orderkey % 10 AS DOUBLE)), 6) AS tn,
  round(asin((o_orderkey % 10) / 10.0), 6) AS asn,
  round(acos((o_orderkey % 10) / 10.0), 6) AS acs,
  round(atan(CAST(o_orderkey % 10 AS DOUBLE)), 6) AS atn,
  round((exp((o_orderkey % 5) / 2.0) - exp(-((o_orderkey % 5) / 2.0))) / 2, 6) AS snh,
  round((exp((o_orderkey % 5) / 2.0) + exp(-((o_orderkey % 5) / 2.0))) / 2, 6) AS csh,
  round((exp(((o_orderkey % 5) / 2.0) * 2) - 1)
        / (exp(((o_orderkey % 5) / 2.0) * 2) + 1), 6) AS tnh,
  CAST(ceil(o_totalprice / 1000.0) AS BIGINT) AS cl,
  CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS fl,
  round(degrees((o_orderkey % 5) / 2.0), 6) AS dg,
  round(radians(CAST(o_orderkey % 180 AS DOUBLE)), 6) AS rd,
  round(3.141592653589793 * (o_orderkey % 4), 6) AS pim,
  round(2.718281828459045 + (o_orderkey % 4), 6) AS ep,
  o_orderpriority || '_' || CAST(o_orderkey % 2 AS VARCHAR) AS cc
FROM o ORDER BY o_orderkey""",
)
def fn_trig_funcs(spark, sf_dir):
    """Trig/hyperbolic/rounding/constant/concat function-query family
    (ValueSourceParser.java java.lang.Math registrations: sin cos tan
    asin acos atan sinh cosh tanh ceil floor deg rad pi e concat).
    sinh/cosh/tanh are spelled via exp() so both engines evaluate the
    identical IEEE expression tree (the oracle has no hyperbolic
    builtins)."""
    from .functions.valuesource import (
        acos_v, asin_v, atan_v, ceil_v, concat_v, cos_v, cosh_v, deg_v,
        e_v, floor_v, pi_v, rad_v, sin_v, sinh_v, tan_v, tanh_v,
    )

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 256)
    m10 = (F.col("o_orderkey") % 10).cast("double")
    frac = (F.col("o_orderkey") % 10) / 10.0
    h = (F.col("o_orderkey") % 5) / 2.0
    return o.select(
        "o_orderkey",
        F.round(sin_v(m10), 6).alias("sn"),
        F.round(cos_v(m10), 6).alias("cs"),
        F.round(tan_v(m10), 6).alias("tn"),
        F.round(asin_v(frac), 6).alias("asn"),
        F.round(acos_v(frac), 6).alias("acs"),
        F.round(atan_v(m10), 6).alias("atn"),
        F.round(sinh_v(h), 6).alias("snh"),
        F.round(cosh_v(h), 6).alias("csh"),
        F.round(tanh_v(h), 6).alias("tnh"),
        ceil_v(F.col("o_totalprice") / 1000.0).alias("cl"),
        floor_v(F.col("o_totalprice") / 1000.0).alias("fl"),
        F.round(deg_v(h), 6).alias("dg"),
        F.round(rad_v((F.col("o_orderkey") % 180).cast("double")), 6).alias("rd"),
        F.round(pi_v() * (F.col("o_orderkey") % 4), 6).alias("pim"),
        F.round(e_v() + (F.col("o_orderkey") % 4), 6).alias("ep"),
        concat_v(
            F.col("o_orderpriority"), "_",
            (F.col("o_orderkey") % 2).cast("string"),
        ).alias("cc"),
    ).orderBy("o_orderkey")


@gate(
    "fn_eval_dist",
    r"""
WITH m AS (
  SELECT l_returnflag,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(4,2))) AS DOUBLE) AS s1,
    CAST(sum(CAST(l_quantity AS DECIMAL(4,2))
             * CAST(l_quantity AS DECIMAL(4,2))) AS DOUBLE) AS s2,
    CAST(sum(CAST(l_quantity AS DECIMAL(4,2))
             * CAST(l_quantity AS DECIMAL(4,2))
             * CAST(l_quantity AS DECIMAL(4,2))) AS DOUBLE) AS s3,
    CAST(sum(CAST(l_quantity AS DECIMAL(4,2))
             * CAST(l_quantity AS DECIMAL(4,2))
             * CAST(l_quantity AS DECIMAL(4,2))
             * CAST(l_quantity AS DECIMAL(4,2))) AS DOUBLE) AS s4,
    CAST(sum(CAST(round(ln(CAST(l_quantity AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS sln
  FROM lineitem GROUP BY l_returnflag),
c AS (
  SELECT l_returnflag, n,
    s1 / n AS mean,
    s2 / n - (s1 / n) * (s1 / n) AS m2,
    s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
    s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4,
    sln FROM m)
SELECT l_returnflag, n,
  round(sqrt(m2), 6) AS stddev_pop,
  round(m3 / pow(m2, 1.5), 6) AS skewness,
  round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis,
  round(exp(sln / n), 6) AS gmean
FROM c ORDER BY l_returnflag""",
)
def fn_eval_dist(spark, sf_dir):
    """Distribution stream evaluators — stddev / skewness / (excess)
    kurtosis / geometric mean (reference solr/solrj/.../io/eval/
    StandardDeviationEvaluator.java, SkewnessEvaluator.java,
    KurtosisEvaluator.java, GeometricMeanEvaluator.java) — computed
    from order-independent DECIMAL raw moments (and per-term-rounded
    DECIMAL ln sums for the geometric mean), so the result is bit-
    stable under any partitioning and reproducible in ANSI SQL."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(4,2)")
    lnq = F.round(F.log(F.col("l_quantity").cast("double")), 9).cast(
        "decimal(28,9)"
    )
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("double").alias("s1"),
        F.sum(x * x).cast("double").alias("s2"),
        F.sum(x * x * x).cast("double").alias("s3"),
        F.sum(x * x * x * x).cast("double").alias("s4"),
        F.sum(lnq).cast("double").alias("sln"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = F.col("s3") / n - 3 * mean * (F.col("s2") / n) + 2 * mean * mean * mean
    m4 = (
        F.col("s4") / n
        - 4 * mean * (F.col("s3") / n)
        + 6 * mean * mean * (F.col("s2") / n)
        - 3 * mean * mean * mean * mean
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(F.sqrt(m2), 6).alias("stddev_pop"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 6).alias("kurtosis"),
        F.round(F.exp(F.col("sln") / n), 6).alias("gmean"),
    ).orderBy("l_returnflag")


@gate(
    "fn_eval_vecdist",
    """
WITH idx AS (SELECT unnest(range(1, 65)) AS i),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.embedding AS ea, b.embedding AS eb
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id < 64),
t AS (SELECT vec_a, vec_b,
             CAST(ea[i] AS DOUBLE) AS x, CAST(eb[i] AS DOUBLE) AS y
      FROM p, idx)
SELECT vec_a, vec_b,
  round(sqrt(sum((x - y) * (x - y))), 6) AS euclid,
  round(sum(abs(x - y)), 6) AS manhattan,
  round(max(abs(x - y)), 6) AS chebyshev,
  round(sum(CASE WHEN abs(x) + abs(y) = 0 THEN 0.0
                 ELSE abs(x - y) / (abs(x) + abs(y)) END), 6) AS canberra
FROM t GROUP BY vec_a, vec_b ORDER BY vec_a""",
)
def fn_eval_vecdist(spark, sf_dir):
    """Vector-distance stream evaluators — Euclidean / Manhattan /
    Chebyshev / Canberra over embedding array columns (reference
    solr/solrj/.../io/eval/{EuclideanDistance,ManhattanDistance,
    ChebyshevDistance,CanberraDistance}Evaluator.java). Spark side is
    pure higher-order-function Column expressions (zip_with/aggregate)
    — JVM-side per-row projections, no explode, no Python — evaluated
    here on consecutive-vector pairs so the gate also exercises the
    self-join shape."""
    from .functions.valuesource import (
        canberra_dist, chebyshev_dist, euclidean_dist, manhattan_dist,
    )

    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    ).filter(F.col("vec_a") < 64)
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    ea, eb = F.col("ea"), F.col("eb")
    return (
        a.join(b, F.col("vec_b") == F.col("vec_a") + 1)
        .select(
            "vec_a",
            "vec_b",
            F.round(euclidean_dist(ea, eb), 6).alias("euclid"),
            F.round(manhattan_dist(ea, eb), 6).alias("manhattan"),
            F.round(chebyshev_dist(ea, eb), 6).alias("chebyshev"),
            F.round(canberra_dist(ea, eb), 6).alias("canberra"),
        )
        .orderBy("vec_a")
    )


@gate(
    "fn_eval_series",
    """
WITH it AS (
  SELECT l_orderkey, CAST(l_quantity AS DOUBLE) AS q,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity) AS rn,
         count(*) OVER (PARTITION BY l_orderkey) AS n,
         avg(CAST(l_quantity AS DOUBLE)) OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma
  FROM lineitem WHERE l_orderkey <= 2048),
agg AS (
  SELECT l_orderkey AS o_orderkey, CAST(max(n) AS BIGINT) AS n,
    round(max(CASE WHEN rn = 3 THEN ma END), 6) AS ma_first,
    round(max(CASE WHEN rn = n THEN ma END), 6) AS ma_last,
    round(max(CASE WHEN rn = n THEN q END)
          - max(CASE WHEN rn = 1 THEN q END), 6) AS diff_sum,
    round(max(q), 6) AS q_max
  FROM it GROUP BY l_orderkey)
SELECT * FROM agg WHERE n >= 4 ORDER BY o_orderkey""",
)
def fn_eval_series(spark, sf_dir):
    """Array / time-series evaluator family over per-order quantity
    series (reference solr/solrj/.../io/eval/{MovingAverage,
    TimeDifferencing,Asc,Reverse,ValueAt,Length}Evaluator.java):
    trailing-window moving average (full windows only), lag-1
    differencing (summed — telescopes to last-first, which the oracle
    recomputes directly), and desc-sort + 0-based valueAt for the max.
    The series is assembled deterministically (collect_list of
    (l_linenumber, qty) structs, array_sort — qty is the tiebreak since
    the synthetic lineitem repeats l_linenumber) and every evaluator is
    a higher-order-function Column expr (functions/evaluators.py) —
    arrays never explode or shuffle."""
    from .functions.evaluators import (
        desc_v, length_v, moving_avg, sum_v, ts_diff, value_at,
    )

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2048)
    arr_df = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("l_linenumber").alias("ln"),
                            F.col("l_quantity").cast("double").alias("q"),
                        )
                    )
                ),
                lambda s: s.q,
            ).alias("qty")
        )
        .filter(F.size("qty") >= 4)
    )
    qty = F.col("qty")
    ma = moving_avg(qty, 3)
    return arr_df.select(
        "o_orderkey",
        F.size("qty").cast("long").alias("n"),
        F.round(value_at(ma, 0), 6).alias("ma_first"),
        F.round(value_at(ma, length_v(ma) - 1), 6).alias("ma_last"),
        F.round(sum_v(ts_diff(qty, 1)), 6).alias("diff_sum"),
        F.round(value_at(desc_v(qty), 0), 6).alias("q_max"),
    ).orderBy("o_orderkey")


@gate(
    "rel_date_math_window",
    """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
  CAST(count(*) AS BIGINT) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 3) AS total_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-14 00:00:00'
  AND ts <  TIMESTAMP '2024-01-21 00:00:00'
GROUP BY day ORDER BY day""",
)
def rel_date_math_window(spark, sf_dir):
    """Solr date-math range: the engine resolves NOW/DAY-7DAYS ..
    NOW/DAY from the anchor 2024-01-21T07:45:30 via the date-math
    Column chain (functions/datemath.py — reference solr/core/.../util/
    DateMathParser.java), filters the event stream to the window and
    date-histograms it; the oracle hard-codes the humanly-resolved
    boundaries, so a hash match proves the date-math evaluation."""
    from .functions.datemath import date_math_col
    from .gate import _dec

    anchor = F.lit("2024-01-21 07:45:30").cast("timestamp")
    lo = date_math_col(anchor, "/DAY-7DAYS")
    hi = date_math_col(anchor, "/DAY")
    e = load(spark, sf_dir, "events").filter(
        (F.col("ts") >= lo) & (F.col("ts") < hi)
    )
    return (
        e.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
            .alias("day")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_dec("value")).cast("double"), 3)
            .alias("total_value"),
        )
        .orderBy("day")
    )


@gate(
    "fn_cmp_bools",
    """
SELECT o_orderpriority,
  CAST(sum(CASE WHEN o_orderkey % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_eq,
  CAST(sum(CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_gt,
  CAST(sum(CASE WHEN o_totalprice < 150000.0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_lt,
  CAST(sum(CASE WHEN o_totalprice >= 150000.0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_gte,
  CAST(sum(CASE WHEN o_totalprice <= 150000.0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_lte
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
)
def fn_cmp_bools(spark, sf_dir):
    """Comparison bool function queries — gt/lt/gte/lte/eq (reference
    solr/core/.../search/ValueSourceParser.java ComparisonBoolFunction
    registrations) as codegen Column predicates, aggregated per order
    priority so every comparison's full truth table is hash-checked."""
    from .functions.valuesource import eq_v, gt_v, gte_v, lt_v, lte_v

    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    t = F.lit(150000.0)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.sum(eq_v(F.col("o_orderkey") % 7, 3).cast("int"))
            .cast("long").alias("n_eq"),
            F.sum(gt_v(p, t).cast("int")).cast("long").alias("n_gt"),
            F.sum(lt_v(p, t).cast("int")).cast("long").alias("n_lt"),
            F.sum(gte_v(p, t).cast("int")).cast("long").alias("n_gte"),
            F.sum(lte_v(p, t).cast("int")).cast("long").alias("n_lte"),
        )
        .orderBy("o_orderpriority")
    )


# The oracle engine has no stemmer, so the stem MAP (term → stem over
# the full corpus vocabulary) is materialized once as a parquet fixture
# by the paper-golden Python implementation (scripts/make_porter_fixture
# .py; regenerate if the corpus vocabulary ever changes). The Spark gate
# still stems live in the distributed pandas-UDF chain — the oracle
# joins the at-rest map, so the driver hash independently verifies the
# whole tokenize → stem → explode → agg → top-k pipeline. The COALESCE
# fallback (term passes through unstemmed) only fires for vocabulary
# absent from the fixture, which make_porter_fixture.py generation over
# every sf dir rules out.
_PORTER_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "porter_stems.parquet",
)

_PORTER_SQL = f"""
WITH toks AS ({{toks}}),
sm AS (SELECT term, stem FROM read_parquet('{_PORTER_FIXTURE}')),
st AS (SELECT coalesce(sm.stem, t.term) AS stem
       FROM toks t LEFT JOIN sm USING (term))
SELECT stem, count(*) AS cnt FROM st
GROUP BY stem ORDER BY cnt DESC, stem ASC LIMIT 20"""


@gate("fts_porter_stemmed_terms", _PORTER_SQL.format(toks=_TOKS))
def fts_porter_stemmed_terms(spark, sf_dir):
    """PorterStemFilter chain stage: tokenize → Porter stem → top-20
    stems by frequency (analysis/porter.py; reference lucene/analysis/
    common/.../en/PorterStemFilter.java). Oracle: DuckDB joins the
    fixture stem map written by the paper-golden implementation
    (scripts/make_porter_fixture.py), Spark stems live."""
    from .analysis.porter import porter_stem_filter
    from .index.builder import simple_tokens

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        porter_stem_filter(simple_tokens("text")).alias("stems")
    )
    return (
        toks.select(F.explode("stems").alias("stem"))
        .groupBy("stem")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("stem"))
        .limit(20)
    )


_OVERRIDE_SQL = f"""
WITH toks AS ({{toks}}),
sm AS (SELECT term, stem FROM read_parquet('{_PORTER_FIXTURE}')),
st AS (SELECT CASE WHEN t.term = 'customer' THEN 'customer'
                   WHEN t.term = 'merge' THEN 'mrg'
                   ELSE coalesce(sm.stem, t.term) END AS stem
       FROM toks t LEFT JOIN sm USING (term))
SELECT stem, count(*) AS cnt FROM st
GROUP BY stem ORDER BY cnt DESC, stem ASC LIMIT 20"""


@gate("fts_stem_override", _OVERRIDE_SQL.format(toks=_TOKS))
def fts_stem_override(spark, sf_dir):
    """KeywordMarkerFilter + StemmerOverrideFilter ahead of Porter:
    'customer' is keyword-protected (passes unstemmed), 'merge'
    override-maps to 'mrg', everything else Porter-stems (reference
    lucene/analysis/common/.../miscellaneous/KeywordMarkerFilter.java,
    StemmerOverrideFilter.java — both set KeywordAttribute so the
    stemmer skips). Spark stems live (analysis/porter.py
    stem_with_overrides); the oracle CASEs over the fixture map."""
    from .analysis.porter import stem_with_overrides
    from .index.builder import simple_tokens

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        stem_with_overrides(
            simple_tokens("text"),
            overrides={"merge": "mrg"},
            keywords={"customer"},
        ).alias("stems")
    )
    return (
        toks.select(F.explode("stems").alias("stem"))
        .groupBy("stem")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("stem"))
        .limit(20)
    )


@gate(
    "fts_common_grams",
    f"""WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents),
grams AS (
  SELECT concat(ts[i], '_', ts[i + 1]) AS gram
  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tok) s
  WHERE ts[i] IN ('the', 'a') OR ts[i + 1] IN ('the', 'a'))
SELECT gram, count(*) AS cnt FROM grams
GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 20""",
)
def fts_common_grams(spark, sf_dir):
    """CommonGramsQueryFilter: bigrams of adjacent pairs where either
    side is a common word ('the', 'a') — the stopword-phrase
    acceleration trick (analysis/filters.py common_grams_filter;
    reference lucene/analysis/common/.../commongrams/
    CommonGramsFilter.java)."""
    from .analysis.filters import common_grams_filter
    from .index.builder import simple_tokens

    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(
            common_grams_filter(simple_tokens("text"), ["the", "a"])
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(20)
    )


# Convex quad (CCW, (lat, lon)): a diamond over the south Atlantic
_POLY = [(10.0, -60.0), (30.0, -20.0), (50.0, -60.0), (30.0, -100.0)]


@gate(
    "fn_geo_polygon",
    """
WITH pts AS (
  SELECT c_custkey,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer)
SELECT c_custkey, lat, lon FROM pts
WHERE ((-20.0 - -60.0) * (lat - 10.0) - (30.0 - 10.0) * (lon - -60.0)) >= 0
  AND ((-60.0 - -20.0) * (lat - 30.0) - (50.0 - 30.0) * (lon - -20.0)) >= 0
  AND ((-100.0 - -60.0) * (lat - 50.0) - (30.0 - 50.0) * (lon - -60.0)) >= 0
  AND ((-60.0 - -100.0) * (lat - 30.0) - (10.0 - 30.0) * (lon - -100.0)) >= 0
ORDER BY c_custkey""",
)
def fn_geo_polygon(spark, sf_dir):
    """Polygon containment (LatLonPoint.newPolygonQuery, convex case
    pinned): same-side-of-every-edge cross-product test as pure Column
    expressions (operators/spatial.py polygon_contains_col; reference
    lucene/core/.../geo/Polygon2D.java — general polygons decompose
    into convex pieces OR'd together)."""
    from .operators.spatial import polygon_contains_col

    c = load(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7) % 180) - 90 + 0.5)
        .cast("double").alias("lat"),
        (((F.col("c_custkey") * 13) % 360) - 180 + 0.5)
        .cast("double").alias("lon"),
    )
    return (
        pts.filter(
            polygon_contains_col(F.col("lat"), F.col("lon"), _POLY)
        )
        .orderBy("c_custkey")
    )


@gate(
    "rel_sort_missing",
    """
WITH c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer),
miss AS (SELECT count(*) AS n_missing FROM c WHERE bal IS NULL),
top AS (SELECT c_custkey, bal FROM c
        ORDER BY bal ASC NULLS LAST, c_custkey ASC LIMIT 30)
SELECT t.c_custkey, coalesce(t.bal, -999999.0) AS bal_disp,
       CAST(m.n_missing AS BIGINT) AS n_missing
FROM top t CROSS JOIN miss m
ORDER BY t.c_custkey""",
)
def rel_sort_missing(spark, sf_dir):
    """sortMissingLast + facet.missing: sort a nullable field with
    missing values forced last (Solr schema sortMissingLast=true;
    Lucene SortField.setMissingValue) and count the missing bucket
    (facet.missing=true, solr/core/.../request/SimpleFacets.java).
    asc_nulls_last is the native Catalyst sort; the missing count is
    one filtered agg broadcast onto the page."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_acctbal")).alias("bal"),
    )
    miss = c.filter(F.col("bal").isNull()).agg(
        F.count("*").alias("n_missing")
    )
    top = c.orderBy(F.asc_nulls_last("bal"), F.asc("c_custkey")).limit(30)
    return (
        top.crossJoin(F.broadcast(miss))
        .select(
            "c_custkey",
            F.coalesce(F.col("bal"), F.lit(-999999.0)).alias("bal_disp"),
            F.col("n_missing").cast("long").alias("n_missing"),
        )
        .orderBy("c_custkey")
    )


_COVER_TERMS = ["spark", "merge", "window"]


@gate(
    "fts_covering_query",
    f"""
WITH {bm25_scored_cte(_COVER_TERMS)},
agg AS (
  SELECT doc_id,
         CAST(count(DISTINCT term) AS BIGINT) AS n_matched,
         round(sum(term_score), 4) AS score
  FROM scored GROUP BY doc_id)
SELECT doc_id, n_matched,
       CAST(1 + doc_id % 3 AS BIGINT) AS min_required, score
FROM agg WHERE n_matched >= 1 + doc_id % 3
ORDER BY doc_id""",
)
def fts_covering_query(spark, sf_dir):
    """CoveringQuery (lucene/sandbox/.../search/CoveringQuery.java):
    disjunction whose min-should-match is a PER-DOCUMENT value source
    (here 1 + doc_id % 3 — the LongValuesSource analog), not a query
    constant. Matched-count is one hash-agg over term-pruned postings;
    scoring is the BM25 sum of matched clauses (search/covering.py)."""
    from .gate import _bm25_spark
    from .search.covering import covering_query

    tables = docs_index(spark, sf_dir)
    scores = _bm25_spark(
        spark, sf_dir, _COVER_TERMS, "disjunctive", 100000
    )
    return covering_query(
        tables, _COVER_TERMS, 1 + F.col("doc_id") % 3, scores
    ).orderBy("doc_id")


@gate(
    "fn_currency",
    """
WITH rates(currency, rate) AS (VALUES ('USD', 1.0), ('EUR', 0.92),
                                      ('JPY', 155.0)),
o AS (SELECT o_orderkey, o_totalprice,
        CASE o_orderkey % 3 WHEN 0 THEN 'USD'
             WHEN 1 THEN 'EUR' ELSE 'JPY' END AS cur
      FROM orders WHERE o_orderkey <= 256)
SELECT o_orderkey, cur,
       round(CAST(o_totalprice AS DOUBLE) / rate, 2) AS amount_usd
FROM o JOIN rates ON cur = currency ORDER BY o_orderkey""",
)
def fn_currency(spark, sf_dir):
    """currency(field, CODE) value source / CurrencyFieldType
    (solr/core/.../schema/CurrencyFieldType.java, CurrencyValueSource +
    FileExchangeRateProvider): per-row (amount, currency) converted to
    USD through a broadcast exchange-rate table — one codegen multiply
    per row (functions/valuesource.py currency_convert)."""
    from .functions.valuesource import currency_convert

    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 256
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "USD")
        .when(F.col("o_orderkey") % 3 == 1, "EUR")
        .otherwise("JPY")
        .alias("cur"),
    )
    rates = spark.createDataFrame(
        [("USD", 1.0), ("EUR", 0.92), ("JPY", 155.0)],
        "currency string, rate double",
    )
    return (
        currency_convert(o, "o_totalprice", "cur", "USD", rates)
        .select("o_orderkey", "cur", "amount_usd")
        .orderBy("o_orderkey")
    )


_CTQ_TERMS = ["dup", "spark", "merge"]


@gate(
    "fts_common_terms",
    f"""
WITH {bm25_scored_cte(_CTQ_TERMS)},
flag AS (SELECT term,
         CASE WHEN df <= 0.4 * (SELECT doc_count FROM stats)
              THEN 1 ELSE 0 END AS rare
         FROM dfs),
per AS (SELECT s.doc_id, f.rare, s.term_score
        FROM scored s JOIN flag f USING (term)),
agg AS (SELECT doc_id,
        round(coalesce(sum(CASE WHEN rare = 1 THEN term_score END), 0), 4)
          AS rare_score,
        round(coalesce(sum(CASE WHEN rare = 0 THEN term_score END), 0), 4)
          AS common_score
        FROM per GROUP BY doc_id)
SELECT doc_id, round(rare_score + common_score, 4) AS score
FROM agg
WHERE doc_id IN (SELECT doc_id FROM per WHERE rare = 1)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def fts_common_terms(spark, sf_dir):
    """CommonTermsQuery (lucene/queries/.../CommonTermsQuery.java):
    terms split at df <= 0.4·docCount — the rare term ('dup', df≈5%)
    gates the match, the common terms ('spark','merge', df≈77%) only
    add score to matching docs. The split is a driver-side dictionary
    lookup; no stopword list needed (search/commonterms.py)."""
    from .search.commonterms import common_terms_query

    tables = docs_index(spark, sf_dir)
    return common_terms_query(
        tables, _CTQ_TERMS, max_term_frequency=0.4, k=10
    )


_SOUNDEX_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "soundex_codes.parquet",
)


@gate(
    "fts_phonetic_codes",
    f"""
WITH toks AS ({_TOKS}),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
       WHERE regexp_matches(term, '^[a-z]+$') GROUP BY term),
cm AS (SELECT term, code FROM read_parquet('{_SOUNDEX_FIXTURE}'))
SELECT df.term, cm.code, CAST(df.df AS BIGINT) AS df
FROM df JOIN cm USING (term)
ORDER BY df.term""",
)
def fts_phonetic_codes(spark, sf_dir):
    """PhoneticFilter (lucene/analysis/phonetic, Soundex encoder): the
    full vocabulary→code mapping plus df — spelling variants collide
    on the code column, so phonetic term expansion is a group-by on
    it. Engine encodes live with the JVM built-in F.soundex
    (analysis/phonetic.py asserts it equals the independent Python
    implementation); the oracle joins the at-rest fixture map written
    by that Python implementation (scripts/make_phonetic_fixture.py)
    — the Porter-fixture pattern."""
    from .analysis.phonetic import soundex_col

    tables = docs_index(spark, sf_dir)
    return (
        tables.dictionary.filter(F.col("term").rlike("^[a-z]+$"))
        .select("term", soundex_col("term").alias("code"),
                F.col("df").cast("long").alias("df"))
        .orderBy("term")
    )


# ------------------------------------- classification + monitor modules


@gate(
    "ml_naive_bayes_lang",
    f"""
WITH toks AS ({_TOKS}),
labels AS (SELECT doc_id, lang AS label FROM documents),
tf AS (SELECT doc_id, term, count(*) AS freq FROM toks GROUP BY doc_id, term),
vocab AS (SELECT count(DISTINCT term) AS v FROM toks),
nt AS (SELECT count(*) AS n FROM labels),
tc AS (SELECT l.label, t.term, sum(t.freq) AS cnt
       FROM tf t JOIN labels l USING (doc_id) GROUP BY l.label, t.term),
pri AS (SELECT l.label, count(DISTINCT t.doc_id) AS n_docs,
               sum(t.freq) AS class_tf
        FROM tf t JOIN labels l USING (doc_id) GROUP BY l.label),
contrib AS (
  SELECT t.doc_id, p.label,
         CAST(round(t.freq * ln((coalesce(tc.cnt, 0) + 1.0)
                                / (p.class_tf + vocab.v * 1.0)), 9)
              AS DECIMAL(28,9)) AS c,
         p.n_docs
  FROM tf t
  CROSS JOIN pri p
  CROSS JOIN vocab
  LEFT JOIN tc ON tc.label = p.label AND tc.term = t.term
  WHERE t.doc_id < 100),
scored AS (
  SELECT c.doc_id, c.label,
         round(ln(c.n_docs / (nt.n * 1.0)) + CAST(sum(c.c) AS DOUBLE), 4)
           AS score
  FROM contrib c CROSS JOIN nt GROUP BY c.doc_id, c.label, c.n_docs, nt.n),
prioronly AS (
  SELECT d.doc_id, p.label, round(ln(p.n_docs / (nt.n * 1.0)), 4) AS score
  FROM documents d CROSS JOIN pri p CROSS JOIN nt
  WHERE d.doc_id < 100 AND d.doc_id NOT IN (SELECT doc_id FROM tf)),
allscored AS (SELECT * FROM scored UNION ALL SELECT * FROM prioronly),
best AS (
  SELECT doc_id, label, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label ASC) AS rk
  FROM allscored)
SELECT doc_id, label, score FROM best WHERE rk = 1 ORDER BY doc_id""",
)
def ml_naive_bayes_lang(spark, sf_dir):
    """SimpleNaiveBayesClassifier analog: train on lang labels, classify
    docs < 100 by argmax Laplace-smoothed log-likelihood
    (operators/classify.py; reference lucene/classification/.../
    SimpleNaiveBayesClassifier.java). Pure DataFrame algebra, DECIMAL
    contribution sums for order-independence."""
    from .operators.classify import classify_naive_bayes, train_naive_bayes

    tables = docs_index(spark, sf_dir)
    labels = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("label")
    )
    model = train_naive_bayes(tables, labels)
    return classify_naive_bayes(
        tables, model, doc_filter=F.col("doc_id") < 100
    ).orderBy("doc_id")


_LTR_TERMS = ["spark", "merge", "window"]
_LTR_W = {"f_bm25": 0.8, "n_matched": 0.4, "dl": -0.01, "max_tf": 0.05}


@gate(
    "ml_ltr_rerank",
    f"""
WITH {bm25_scored_cte(_LTR_TERMS)},
agg AS (
  SELECT tf.doc_id,
         CAST(count(DISTINCT tf.term) AS BIGINT) AS n_matched,
         CAST(max(tf.freq) AS BIGINT) AS max_tf
  FROM tf GROUP BY tf.doc_id),
sc AS (SELECT doc_id, round(sum(term_score), 4) AS f_bm25
       FROM scored GROUP BY doc_id),
cand AS (SELECT doc_id, f_bm25 FROM sc
         ORDER BY f_bm25 DESC, doc_id ASC LIMIT 100),
feat AS (
  SELECT c.doc_id, c.f_bm25, a.n_matched, a.max_tf,
         CAST(dl.dl AS BIGINT) AS dl
  FROM cand c JOIN agg a USING (doc_id) JOIN dl USING (doc_id)),
rer AS (
  SELECT doc_id, f_bm25, n_matched, dl,
         round(0.8 * f_bm25 + 0.4 * n_matched - 0.01 * dl
               + 0.05 * max_tf, 4) AS ltr_score
  FROM feat)
SELECT doc_id, f_bm25, n_matched, dl, ltr_score
FROM rer ORDER BY ltr_score DESC, doc_id ASC LIMIT 10""",
)
def ml_ltr_rerank(spark, sf_dir):
    """solr/contrib/ltr: LinearModel rerank of the top-100 first-pass
    BM25 candidates with features f_bm25 / n_matched / doc-length /
    max_tf (operators/ltr.py; reference ltr/model/LinearModel.java,
    feature/FieldLengthFeature.java, LTRQParserPlugin reRankDocs).
    Only the candidate window is rescored — the feature join is
    term-pruned postings + norms, the model a Column expression."""
    from .gate import _bm25_spark, docs_index
    from .operators.ltr import ltr_rerank

    tables = docs_index(spark, sf_dir)
    cand = _bm25_spark(spark, sf_dir, _LTR_TERMS, "disjunctive", 100)
    return ltr_rerank(tables, _LTR_TERMS, cand, _LTR_W, k=10).select(
        "doc_id", "f_bm25", "n_matched", "dl", "ltr_score"
    )


_PERC_QUERIES = [
    ("q_spark_merge", ["spark", "merge"], None),   # conjunctive
    ("q_2of3_window", ["window", "sort", "scan"], 2),
    ("q_vector", ["vector"], None),
    ("q_join_not_hash", ["join"], None, ["hash"]),  # MUST + MUST_NOT
]


@gate(
    "fts_percolate",
    f"""
WITH toks AS (SELECT DISTINCT doc_id, term FROM ({_TOKS})),
qt(query_id, term, prohibited) AS (VALUES
  ('q_spark_merge', 'spark', FALSE), ('q_spark_merge', 'merge', FALSE),
  ('q_2of3_window', 'window', FALSE), ('q_2of3_window', 'sort', FALSE),
  ('q_2of3_window', 'scan', FALSE), ('q_vector', 'vector', FALSE),
  ('q_join_not_hash', 'join', FALSE), ('q_join_not_hash', 'hash', TRUE)),
qr(query_id, required) AS (VALUES
  ('q_spark_merge', 2), ('q_2of3_window', 2), ('q_vector', 1),
  ('q_join_not_hash', 1)),
hits AS (
  SELECT t.doc_id, qt.query_id,
         count(DISTINCT CASE WHEN NOT qt.prohibited THEN t.term END)
           AS n_matched,
         max(CASE WHEN qt.prohibited THEN 1 ELSE 0 END) AS n_vetoed
  FROM toks t JOIN qt ON t.term = qt.term
  WHERE t.doc_id < 100
  GROUP BY t.doc_id, qt.query_id)
SELECT h.query_id, h.doc_id
FROM hits h JOIN qr ON h.query_id = qr.query_id
WHERE h.n_matched >= qr.required AND h.n_vetoed = 0
ORDER BY h.query_id, h.doc_id""",
)
def fts_percolate(spark, sf_dir):
    """Monitor/percolator module: registered term queries (conjunctive /
    minShouldMatch, with MUST_NOT veto terms) matched in reverse against
    documents — two hash-aggs regardless of query count
    (operators/monitor.py; reference lucene/monitor/.../Monitor.java,
    QueryIndex term prefilter)."""
    from .operators.monitor import percolate, register_queries

    tables = docs_index(spark, sf_dir)
    qt, qr = register_queries(spark, _PERC_QUERIES)
    postings = tables.postings.filter(F.col("doc_id") < 100)
    return percolate(postings, qt, qr).orderBy("query_id", "doc_id")


# ---------------------------------------------- intervals module (full API)

def _iv(spark, sf_dir, expr):
    from .gate import docs_pos_index
    from .search.intervals import interval_query

    index = docs_pos_index(spark, sf_dir)
    return (
        interval_query(index, expr, k=None, precision="double")
        .select("doc_id", "span_freq", F.round("score", 4).alias("score"))
        .orderBy("doc_id")
    )


def _ordered_minimal_cte(a: str, b: str) -> str:
    """Minimal ordered intervals of (a, b): for each b occurrence the
    last preceding a, kept only when no other b lies strictly inside —
    the same CTE shape the fts_interval_ordered oracle pins."""
    return f"""bp AS (SELECT doc_id, pos AS pb FROM tok WHERE term = '{b}'),
pr AS (SELECT x.doc_id, x.pb,
              (SELECT max(a.pos) FROM tok a
               WHERE a.doc_id = x.doc_id AND a.term = '{a}'
                 AND a.pos < x.pb) AS pa
       FROM bp x),
minimal AS (SELECT doc_id, pa, pb FROM pr
            WHERE pa IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM tok c
                              WHERE c.doc_id = pr.doc_id
                                AND c.term = '{b}'
                                AND c.pos > pr.pa AND c.pos < pr.pb))"""


@gate(
    "fts_interval_unordered",
    _span_score_sql(
        ["spark", "merge"],
        """cand AS (
  SELECT a.doc_id, least(a.pos, b.pos) AS lo, greatest(a.pos, b.pos) AS hi
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id
  WHERE a.term = 'spark' AND b.term = 'merge'),
mins AS (SELECT DISTINCT doc_id, lo, hi FROM cand c
         WHERE NOT EXISTS (SELECT 1 FROM cand d
               WHERE d.doc_id = c.doc_id AND d.lo >= c.lo AND d.hi <= c.hi
                 AND (d.lo > c.lo OR d.hi < c.hi))),
sf AS (SELECT doc_id, count(*) AS span_freq FROM mins
       WHERE hi - lo + 1 <= 6 GROUP BY doc_id)""",
    ),
)
def fts_interval_unordered(spark, sf_dir):
    """Intervals.maxwidth(6, Intervals.unordered(spark, merge)): minimal
    windows holding both terms in either order, width-filtered AFTER
    minimalization (reference lucene/queries/.../intervals/
    UnorderedIntervalsSource.java, FilteredIntervalsSource MAXWIDTH;
    search/intervals.py _unordered_sweep)."""
    from .search.intervals import maxwidth, unordered

    return _iv(spark, sf_dir, maxwidth(6, unordered("spark", "merge")))


@gate(
    "fts_interval_maxgaps",
    _span_score_sql(
        ["slow", "query"],
        _ordered_minimal_cte("slow", "query") + """,
sf AS (SELECT doc_id, count(*) AS span_freq FROM minimal
       WHERE pb - pa - 1 <= 1 GROUP BY doc_id)""",
    ),
)
def fts_interval_maxgaps(spark, sf_dir):
    """Intervals.maxgaps(1, Intervals.ordered(slow, query)): minimal
    ordered intervals whose internal gap (width - covered leaf
    positions) is <= 1 (reference Intervals.java maxgaps,
    FilteredIntervalsSource.java; search/intervals.py)."""
    from .search.intervals import maxgaps, ordered

    return _iv(spark, sf_dir, maxgaps(1, ordered("slow", "query")))


@gate(
    "fts_interval_containing",
    _span_score_sql(
        ["join", "hash", "big"],
        _ordered_minimal_cte("join", "hash") + """,
sf AS (SELECT doc_id, count(*) AS span_freq FROM minimal m
       WHERE m.pb - m.pa + 1 <= 8
         AND EXISTS (SELECT 1 FROM tok t
                     WHERE t.doc_id = m.doc_id AND t.term = 'big'
                       AND t.pos BETWEEN m.pa AND m.pb)
       GROUP BY doc_id)""",
    ),
)
def fts_interval_containing(spark, sf_dir):
    """Intervals.containing(maxwidth(8, ordered(join, hash)), big):
    minimal ordered join..hash intervals (width <= 8) that hold a 'big'
    occurrence (reference ContainingIntervalsSource.java;
    search/intervals.py)."""
    from .search.intervals import containing, maxwidth, ordered

    return _iv(
        spark, sf_dir,
        containing(maxwidth(8, ordered("join", "hash")), "big"),
    )


@gate(
    "fts_interval_not_containing",
    _span_score_sql(
        ["join", "hash"],
        _ordered_minimal_cte("join", "hash") + """,
sf AS (SELECT doc_id, count(*) AS span_freq FROM minimal m
       WHERE m.pb - m.pa + 1 <= 8
         AND NOT EXISTS (SELECT 1 FROM tok t
                         WHERE t.doc_id = m.doc_id AND t.term = 'big'
                           AND t.pos BETWEEN m.pa AND m.pb)
       GROUP BY doc_id)""",
    ),
)
def fts_interval_not_containing(spark, sf_dir):
    """Intervals.notContaining(maxwidth(8, ordered(join, hash)), big):
    the complement filter — qualifying intervals holding NO 'big'
    (reference NotContainingIntervalsSource.java; the small side is NOT
    required, so docs without 'big' still match). Note the idf set is
    {join, hash} only: 'big' never contributes a scoring term."""
    from .search.intervals import maxwidth, not_containing, ordered

    return _iv(
        spark, sf_dir,
        not_containing(maxwidth(8, ordered("join", "hash")), "big"),
    )


@gate(
    "fts_interval_or",
    _span_score_sql(
        ["slow", "query", "fast"],
        _ordered_minimal_cte("slow", "query") + """,
u AS (SELECT doc_id, pa AS lo, pb AS hi FROM minimal
      UNION ALL
      SELECT doc_id, pos, pos FROM tok WHERE term = 'fast'),
mins AS (SELECT DISTINCT doc_id, lo, hi FROM u c
         WHERE NOT EXISTS (SELECT 1 FROM u d
               WHERE d.doc_id = c.doc_id AND d.lo >= c.lo AND d.hi <= c.hi
                 AND (d.lo > c.lo OR d.hi < c.hi))),
sf AS (SELECT doc_id, count(*) AS span_freq FROM mins GROUP BY doc_id)""",
    ),
)
def fts_interval_or(spark, sf_dir):
    """Intervals.or(ordered(slow, query), fast): the minimalized union —
    a slow..query interval DISAPPEARS when a 'fast' occurrence lies
    inside it (the width-1 interval is contained, so the wider one is
    no longer minimal). Reference DisjunctionIntervalsSource.java;
    docs holding only 'fast' still match (no term is required by every
    branch)."""
    from .search.intervals import any_of, ordered

    return _iv(spark, sf_dir, any_of(ordered("slow", "query"), "fast"))


_PIVOT_SRC = """
  SELECT r.r_name AS f1, n.n_name AS f2, c.c_mktsegment AS f3
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey"""


@gate(
    "rel_facet_pivot",
    f"""WITH src AS ({_PIVOT_SRC})
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS level, f1 AS path,
         CAST(count(*) AS BIGINT) AS cnt
  FROM src GROUP BY f1
  UNION ALL
  SELECT 2, f1 || '/' || f2, count(*) FROM src GROUP BY f1, f2
  UNION ALL
  SELECT 3, f1 || '/' || f2 || '/' || f3, count(*)
  FROM src GROUP BY f1, f2, f3
) ORDER BY level, path""",
)
def rel_facet_pivot(spark, sf_dir):
    """facet.pivot=region,nation,mktsegment — the 3-level pivot value
    tree (reference solr/core/.../handler/component/
    PivotFacetProcessor.java:53) computed in ONE rollup shuffle with
    grouping_id level extraction (operators/facet.py pivot_facets);
    the oracle recomputes each level as an independent GROUP BY."""
    from .operators.facet import pivot_facets

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    src = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            F.col("r_name").alias("f1"), F.col("n_name").alias("f2"),
            F.col("c_mktsegment").alias("f3"),
        )
    )
    return pivot_facets(src, ["f1", "f2", "f3"]).orderBy("level", "path")


# Non-convex L-shape (lat, lon) — integer vertices, point lattice is at
# +0.5 offsets so no point ever lies on an edge (PNPOLY boundary
# asymmetry cannot fire)
_POLY_L = [
    (0.0, -80.0), (40.0, -80.0), (40.0, -40.0),
    (20.0, -40.0), (20.0, -60.0), (0.0, -60.0),
]


def _raycast_sql(vertices, lat="lat", lon="lon") -> str:
    terms = []
    n = len(vertices)
    for i in range(n):
        y1, x1 = vertices[i]
        y2, x2 = vertices[(i + 1) % n]
        if y1 == y2:
            continue
        terms.append(
            f"(CASE WHEN (({y1} > {lat}) <> ({y2} > {lat})) AND "
            f"({lon} < ({x2} - {x1}) * ({lat} - {y1}) / ({y2} - {y1}) + {x1}) "
            "THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


@gate(
    "fn_geo_polygon_general",
    f"""
WITH pts AS (
  SELECT c_custkey,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer)
SELECT c_custkey, lat, lon FROM pts
WHERE {_raycast_sql(_POLY_L)}
ORDER BY c_custkey""",
)
def fn_geo_polygon_general(spark, sf_dir):
    """NON-CONVEX polygon containment (an L-shape) via even-odd ray
    casting as one flat Column parity sum — the general-polygon query
    surface of LatLonShape/Tessellator (reference lucene/sandbox/.../
    document/LatLonShape.java; operators/spatial.py
    polygon_contains_general_col). The oracle recomputes the identical
    crossing parity per point."""
    from .operators.spatial import polygon_contains_general_col

    c = load(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7) % 180) - 90 + 0.5)
        .cast("double").alias("lat"),
        (((F.col("c_custkey") * 13) % 360) - 180 + 0.5)
        .cast("double").alias("lon"),
    )
    return pts.filter(
        polygon_contains_general_col(F.col("lat"), F.col("lon"), _POLY_L)
    ).orderBy("c_custkey")


@gate(
    "fn_geo_heatmap",
    """
WITH pts AS (
  SELECT CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer)
SELECT least(CAST(floor((lat - 10.0) / 10.0) AS BIGINT), 3) AS grid_row,
       least(CAST(floor((lon - -80.0) / 10.0) AS BIGINT), 5) AS grid_col,
       CAST(count(*) AS BIGINT) AS cnt
FROM pts
WHERE lat BETWEEN 10.0 AND 50.0 AND lon BETWEEN -80.0 AND -20.0
GROUP BY grid_row, grid_col ORDER BY grid_row, grid_col""",
)
def fn_geo_heatmap(spark, sf_dir):
    """Heatmap facet (FacetHeatmap.java analog): 4x6 grid counts over
    the box [10,50]x[-80,-20], answered from the AT-REST cell index —
    the box probe is partition-pruned (the fn_geo_cells plan), then one
    hash-agg on integer cell coordinates (operators/spatial.py
    heatmap_facet)."""
    from .operators.spatial import heatmap_facet

    idx_dir = _geo_index_dir(spark, sf_dir)
    from .operators.spatial import box_query

    pts = box_query(spark, idx_dir, 10.0, 50.0, -80.0, -20.0)
    return heatmap_facet(
        pts, 10.0, 50.0, -80.0, -20.0, grid_rows=4, grid_cols=6
    ).orderBy("grid_row", "grid_col")


_LIGHTSTEM_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "light_stems.parquet",
)

_LIGHTSTEM_SQL = f"""
SELECT lang || ':' || term AS lang_term, stem
FROM read_parquet('{_LIGHTSTEM_FIXTURE}')
ORDER BY lang_term"""


@gate("fts_light_stemmers", _LIGHTSTEM_SQL)
def fts_light_stemmers(spark, sf_dir):
    """Non-English light stemmers: German/French/Spanish UniNE light
    stems + the English-minimal s-stemmer, applied LIVE in the Arrow
    UDF over the golden vocabulary sample; the oracle reads the frozen
    reference-implementation stems (the full 35k/28k/20k vocabularies
    verified mismatch-free at fixture build, scripts/
    make_lightstem_fixture.py). Reference lucene/analysis/common/.../
    de/GermanLightStemmer.java, fr/FrenchLightStemmer.java,
    es/SpanishLightStemmer.java, en/EnglishMinimalStemmer.java
    (analysis/lightstem.py)."""
    from functools import reduce

    from .analysis.lightstem import STEMMERS, light_stem_col

    fix = spark.read.parquet(_LIGHTSTEM_FIXTURE).select("lang", "term")
    parts = [
        fix.filter(F.col("lang") == lang).select(
            F.concat_ws(":", "lang", "term").alias("lang_term"),
            light_stem_col(F.col("term"), lang).alias("stem"),
        )
        for lang in sorted(STEMMERS)
    ]
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("lang_term")


_PHONETIC_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "phonetic_codes.parquet",
)

_PHONETIC_SQL = f"""
SELECT encoder || ':' || term AS enc_term, code
FROM read_parquet('{_PHONETIC_FIXTURE}')
ORDER BY enc_term, code"""


@gate("fts_phonetic_encoders", _PHONETIC_SQL)
def fts_phonetic_encoders(spark, sf_dir):
    """The PhoneticFilterFactory encoder registry beyond Soundex:
    Metaphone, DoubleMetaphone (primary + alternate), RefinedSoundex,
    Caverphone 2.0, ColognePhonetic, Nysiis, Daitch-Mokotoff
    (|-joined branch set), applied LIVE in the Arrow UDF over the
    golden vocabulary sample; the oracle reads codes frozen from the
    REAL commons-codec library running in PySpark's JVM (the library
    the reference's filters wrap), verified mismatch-free over the full
    27.9k-word vocabulary at fixture build
    (scripts/make_phonetic_fixture.py). Reference lucene/analysis/
    phonetic/src/java/.../PhoneticFilterFactory.java registry,
    DoubleMetaphoneFilter.java, DaitchMokotoffSoundexFilter.java
    (analysis/encoders.py, analysis/phonetic.py)."""
    from .analysis.phonetic import phonetic_code_col

    fix = spark.read.parquet(_PHONETIC_FIXTURE).select("encoder", "term")
    return fix.select(
        F.concat_ws(":", "encoder", "term").alias("enc_term"),
        phonetic_code_col(F.col("encoder"), F.col("term")).alias("code"),
    ).orderBy("enc_term", "code")


_HUNSPELL_CASES = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "hunspell_cases.parquet",
)

_HUNSPELL_SQL = f"""
SELECT suite || ':' || word AS suite_word, stems
FROM read_parquet('{_HUNSPELL_CASES}')
ORDER BY suite_word, stems"""


@gate("fts_hunspell", _HUNSPELL_SQL)
def fts_hunspell(spark, sf_dir):
    """Hunspell affix-rule stemming: every assertStemsTo vector from
    the reference's 30 hunspell unit suites (34 micro .aff/.dic
    dictionaries — circumfix, complex prefixes, twofold suffixes,
    keepcase/needaffix/onlyincompound, flag long/num, AF/AM aliases,
    ICONV/OCONV, IGNORE, fullstrip, escapes, morph st: exceptions),
    stemmed LIVE in the Arrow UDF from the frozen .aff/.dic texts;
    the oracle reads the reference-pinned expected stem multisets
    (scripts/make_hunspell_fixture.py). Reference
    lucene/analysis/common/src/java/.../hunspell/{{Dictionary,
    Stemmer}}.java (analysis/hunspell.py)."""
    import pandas as pd

    fix = spark.read.parquet(_HUNSPELL_CASES).select("suite", "word")

    def _stems(suite_col, word_col):
        import gzip as _gz
        import json as _js
        import os as _os

        from .analysis.hunspell import HunspellDictionary

        path = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                             "fixtures_data", "hunspell_tests.json.gz")
        with _gz.open(path, "rt", encoding="utf-8") as f:
            suites = _js.load(f)
        cache: dict = {}
        out = []
        for s, w in zip(suite_col, word_col):
            if s not in cache:
                cfg = suites[s]
                cache[s] = HunspellDictionary(
                    cfg["aff"], cfg["dics"], cfg["ignore_case"])
            out.append("|".join(sorted(cache[s].stem(w))))
        return pd.Series(out)

    stems_udf = F.pandas_udf(_stems, "string")
    return fix.select(
        F.concat_ws(":", "suite", "word").alias("suite_word"),
        stems_udf(F.col("suite"), F.col("word")).alias("stems"),
    ).orderBy("suite_word", "stems")


# ---------------------------------------- update-processor chain (mut_*)

_UPCHAIN_NOW = "2026-01-01 00:00:00"
_UPCHAIN_ASOF = "2026-01-15 00:00:00"

_UPCHAIN_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN '' ELSE lang END AS lang_in,
         text
  FROM documents WHERE doc_id < 400),
mutated AS (
  SELECT doc_id,
         coalesce(CASE WHEN lang_in = '' THEN NULL ELSE lang_in END,
                  'und') AS lang,
         substr(trim(regexp_replace(text, '[0-9]+', '#', 'g')),
                1, 80) AS text,
         TIMESTAMP '{_UPCHAIN_NOW}'
           + to_days(CAST(doc_id % 30 + 1 AS INTEGER)) AS _expire_at_
  FROM base),
toks AS (
  SELECT m.*, regexp_extract_all(lower(m.text), '[a-z]+') AS tok
  FROM mutated m)
SELECT doc_id,
       concat(lang, ':', coalesce(tok[1], ''), ':',
              coalesce(tok[-1], ''), ':', coalesce(list_max(tok), '')
       ) AS ktags,
       CAST(length(text) AS BIGINT) AS text_len,
       CAST(len(list_distinct(tok)) AS BIGINT) AS n_uniq,
       CAST(length(array_to_string(tok, ', ')) AS BIGINT) AS cat_len,
       CAST(_expire_at_ <= TIMESTAMP '{_UPCHAIN_ASOF}' AS INT
       ) AS is_expired
FROM toks
ORDER BY doc_id"""


@gate("mut_update_chain", _UPCHAIN_SQL)
def mut_update_chain(spark, sf_dir):
    """UpdateRequestProcessorChain: an ordered chain of field-mutating
    ingest processors — clone, remove-blank, default-value,
    regex-replace, trim, truncate, field-length, uniq/count/first/last/
    max over multivalues, concat, pinned-timestamp, and
    DocExpiration's _expire_at_ = NOW + _ttl_ with the reaper predicate
    — run over the incoming frame as pure fused Column stages.
    Reference solr/core/.../update/processor/
    UpdateRequestProcessorChain.java + the factory files cited in
    operators/updatechain.py."""
    from .operators.updatechain import (
        apply_chain, clone_field, concat_field, count_field_values,
        default_value, doc_expiration, expired_filter, field_length,
        first_value, last_value, max_value, regex_replace, remove_blank,
        timestamp_field, trim_field, truncate_field, uniq_values,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .filter(F.col("doc_id") < 400)
        # incoming-doc shape: every 7th doc arrives with a blank lang
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 7 == 0, "").otherwise(F.col("lang")),
        )
        .withColumn("_ttl_days_", (F.col("doc_id") % 30 + 1).cast("int"))
    )
    out = apply_chain(docs, [
        clone_field("lang", "lang_orig"),
        remove_blank("lang"),
        default_value("lang", "und"),
        regex_replace("text", "[0-9]+", "#"),
        trim_field("text"),
        truncate_field("text", 80),
        field_length("text", "text_len"),
        timestamp_field("ingest_ts", _UPCHAIN_NOW),
        doc_expiration("_ttl_days_", _UPCHAIN_NOW),
    ])
    out = out.withColumn(
        "tok", F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    )
    out = apply_chain(out, [
        first_value("tok", "first_tok"),
        last_value("tok", "last_tok"),
        max_value("tok", "max_tok"),
        concat_field("tok", "tok_cat"),
        uniq_values("tok"),
        count_field_values("tok", "n_uniq"),
    ])
    return out.select(
        "doc_id",
        F.concat_ws(
            ":",
            F.col("lang"),
            F.coalesce("first_tok", F.lit("")),
            F.coalesce("last_tok", F.lit("")),
            F.coalesce("max_tok", F.lit("")),
        ).alias("ktags"),
        F.col("text_len").cast("long").alias("text_len"),
        F.col("n_uniq").cast("long").alias("n_uniq"),
        F.length("tok_cat").cast("long").alias("cat_len"),
        expired_filter(_UPCHAIN_ASOF).cast("int").alias("is_expired"),
    ).orderBy("doc_id")


# ------------------------------------- classic facet params (SimpleFacets)

@gate(
    "fts_facet_params",
    f"""WITH toks AS ({_TOKS}),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term)
SELECT term, df FROM (
  SELECT term, CAST(df AS BIGINT) AS df FROM dict
  WHERE term LIKE 's%' AND df >= 3
  ORDER BY df DESC, term LIMIT 15 OFFSET 5)
ORDER BY df DESC, term""",
)
def fts_facet_params(spark, sf_dir):
    """Classic facet params facet.prefix + facet.mincount + facet.sort=
    count + facet.offset/limit over the term dictionary (reference
    solr/core/.../request/SimpleFacets.java:507-560 getFacetTermEnumCounts
    / getListedTermCounts — prefix seeks the term enum, mincount drops
    sparse buckets, count sort is df desc with index tie-break, offset/
    limit window the bucket list). Pure dictionary scan: no postings
    touched, partition-prunable on the term prefix."""
    tables = docs_index(spark, sf_dir)
    return (
        tables.dictionary.filter(
            F.col("term").startswith("s") & (F.col("df") >= 3)
        )
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .offset(5)
        .limit(15)
        .orderBy(F.desc("df"), F.asc("term"))
    )


@gate(
    "fts_facet_contains",
    f"""WITH toks AS ({_TOKS}),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term)
SELECT term, CAST(df AS BIGINT) AS df FROM dict
WHERE term LIKE '%ing%' AND df >= 2
ORDER BY term LIMIT 15""",
)
def fts_facet_contains(spark, sf_dir):
    """facet.contains + facet.sort=index (term-order buckets,
    SimpleFacets.java contains/ignoreCase filtering + index sort)."""
    tables = docs_index(spark, sf_dir)
    return (
        tables.dictionary.filter(
            F.col("term").contains("ing") & (F.col("df") >= 2)
        )
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.asc("term"))
        .limit(15)
    )


# --------------------------------------------- ChildDocTransformer (rel_*)

@gate(
    "rel_childdoc_transform",
    """SELECT o_orderkey, l_linenumber, l_quantity FROM (
  SELECT o.o_orderkey, l.l_linenumber,
         CAST(l.l_quantity AS DOUBLE) AS l_quantity,
         row_number() OVER (
           PARTITION BY o.o_orderkey ORDER BY l.l_linenumber) AS rk
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_totalprice > 400000 AND l.l_quantity >= 40)
WHERE rk <= 3
ORDER BY o_orderkey, l_linenumber""",
)
def rel_childdoc_transform(spark, sf_dir):
    """ChildDocTransformer: matching parent docs return their child
    docs nested, with a childFilter and a per-parent limit (reference
    solr/core/.../response/transform/ChildDocTransformer.java +
    ChildDocTransformerFactory.java: childFilter=, limit= params).
    Relational shape: parent-filtered semi side joins children,
    childFilter as a plain predicate, limit = per-parent row_number
    window — the block-join family's fetch direction with a bounded
    child window."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    parents = orders.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey"
    )
    kids = (
        lineitem.filter(F.col("l_quantity") >= 40)
        .join(parents, lineitem.l_orderkey == parents.o_orderkey)
        .select(
            "o_orderkey", "l_linenumber",
            F.col("l_quantity").cast("double").alias("l_quantity"),
        )
    )
    w = W.partitionBy("o_orderkey").orderBy("l_linenumber")
    return (
        kids.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .drop("rk")
        .orderBy("o_orderkey", "l_linenumber")
    )


# ------------------------------------ relatedness() facet agg (SKG)

def _relatedness_sql() -> str:
    """The computeRelatedness formula as SQL text — the same IEEE
    expression tree relatedness_col builds as Columns."""
    sigs = " + ".join(
        f"((z + {off}) / ({scale} + abs(z + {off})))"
        for off, scale in ((-80, 50), (-30, 30), (0, 30), (30, 30), (80, 50))
    )
    return f"floor(0.2 * ({sigs}) * 1e5 + 0.5) / 1e5"


_RELATEDNESS_SQL = f"""
WITH toks AS (SELECT DISTINCT doc_id,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents),
fg_docs AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark'),
sizes AS (
  SELECT (SELECT count(*) FROM fg_docs) AS fg_size,
         (SELECT count(DISTINCT doc_id) FROM toks) AS bg_size),
counts AS (
  SELECT t.term,
         count(DISTINCT CASE WHEN f.doc_id IS NOT NULL
                             THEN t.doc_id END) AS fg_count,
         count(DISTINCT t.doc_id) AS bg_count
  FROM toks t LEFT JOIN fg_docs f USING (doc_id)
  GROUP BY t.term),
scored AS (
  SELECT term, fg_count, bg_count, fg_size, bg_size,
         (CAST(bg_count AS DOUBLE) / bg_size) AS bg_prob
  FROM counts, sizes
  WHERE fg_count >= 1),
zed AS (
  SELECT term, fg_count, bg_count, fg_size, bg_size, bg_prob,
         (fg_count - fg_size * bg_prob) /
         (CASE WHEN sqrt(fg_size * bg_prob * (1 - bg_prob)) = 0
               THEN 1e-10
               ELSE sqrt(fg_size * bg_prob * (1 - bg_prob)) END) AS z
  FROM scored)
SELECT term,
       {_relatedness_sql()} AS relatedness,
       floor(CAST(fg_count AS DOUBLE) / bg_size * 1e5 + 0.5) / 1e5
         AS fg_pop,
       floor(CAST(bg_count AS DOUBLE) / bg_size * 1e5 + 0.5) / 1e5
         AS bg_pop,
       CAST(fg_count AS BIGINT) AS fg_count
FROM zed
ORDER BY relatedness DESC, term LIMIT 15"""


@gate("rel_relatedness_skg", _RELATEDNESS_SQL)
def rel_relatedness_skg(spark, sf_dir):
    """JSON facet relatedness() — the Semantic Knowledge Graph agg
    (reference solr/core/.../search/facet/RelatednessAgg.java:
    computeRelatedness z-score + 5-sigmoid blend, fg/bg popularity as
    roundTo5Digits(count/bg_size); foreground = docs matching the
    query, background = the whole collection). Two hash-aggs over the
    token relation + a broadcast of the two scalar set sizes — no
    per-term subqueries, scales with the token table."""
    from .operators.facet import relatedness_col, round5

    toks = doc_tokens(spark, sf_dir).select("doc_id", "term").distinct()
    fg_docs = toks.filter(F.col("term") == "spark").select("doc_id").distinct()
    sizes = fg_docs.agg(F.count("*").alias("fg_size")).crossJoin(
        toks.agg(F.countDistinct("doc_id").alias("bg_size"))
    )
    counts = (
        toks.join(
            fg_docs.withColumn("_fg", F.lit(1)), "doc_id", "left"
        )
        .groupBy("term")
        .agg(
            F.countDistinct(
                F.when(F.col("_fg").isNotNull(), F.col("doc_id"))
            ).alias("fg_count"),
            F.countDistinct("doc_id").alias("bg_count"),
        )
        .filter(F.col("fg_count") >= 1)
    )
    out = counts.crossJoin(F.broadcast(sizes))
    return out.select(
        "term",
        relatedness_col(
            F.col("fg_count").cast("double"),
            F.col("fg_size").cast("double"),
            F.col("bg_count").cast("double"),
            F.col("bg_size").cast("double"),
        ).alias("relatedness"),
        round5(F.col("fg_count").cast("double") / F.col("bg_size")).alias(
            "fg_pop"
        ),
        round5(F.col("bg_count").cast("double") / F.col("bg_size")).alias(
            "bg_pop"
        ),
        F.col("fg_count").cast("long").alias("fg_count"),
    ).orderBy(F.desc("relatedness"), F.asc("term")).limit(15)


# ---------------------------------------- FreeTextSuggester (stupid backoff)

def _freetext_sql(ctx_toks, frag, grams=3, num=10) -> str:
    """Mirror of search/freetext.py freetext_lookup for a fixed key:
    same n-gram tables, per-order top-num, backoff literals (exact
    repeated-multiplication doubles), seen-dedup window, final sort."""
    from .search.freetext import _backoffs

    boffs = _backoffs(grams)
    t = len(ctx_toks)
    top = min(t, grams - 1)
    orders = []
    for g in range(top, -1, -1):
        if g == 0 and frag == "":
            continue
        ctx = " ".join(ctx_toks[t - g:])
        backoff = repr(boffs[top - g])
        if g == 0:
            denom = "(SELECT CAST(sum(cnt) AS DOUBLE) FROM g1)"
            comp = "last"
            src = "g1"
            where = f"last LIKE '{frag}%'"
        else:
            head = " ".join(ctx_toks[t - g: t - 1]) if g > 1 else ""
            tail = ctx_toks[-1]
            denom = (
                f"(SELECT CAST(cnt AS DOUBLE) FROM g{g} "
                f"WHERE context = '{head}' AND last = '{tail}')"
            )
            comp = f"concat('{ctx} ', last)"
            src = f"g{g + 1}"
            where = f"context = '{ctx}' AND last LIKE '{frag}%'"
        orders.append(
            f"""(SELECT {g} AS g, last, {comp} AS completion,
       round({backoff} * cnt / {denom}, 9) AS score, cnt
FROM {src} WHERE {where}
ORDER BY cnt DESC, last LIMIT {num})"""
        )
    union = "\nUNION ALL\n".join(orders)
    return f"""
WITH tl AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS l
            FROM documents),
idx AS (SELECT l, unnest(range(1, len(l) + 1)) AS i FROM tl),
g1 AS (SELECT '' AS context, l[i] AS last, count(*) AS cnt
       FROM idx GROUP BY 1, 2),
g2 AS (SELECT l[i] AS context, l[i+1] AS last, count(*) AS cnt
       FROM idx WHERE i + 1 <= len(l) GROUP BY 1, 2),
g3 AS (SELECT concat(l[i], ' ', l[i+1]) AS context, l[i+2] AS last,
              count(*) AS cnt
       FROM idx WHERE i + 2 <= len(l) GROUP BY 1, 2),
uni AS (
{union}),
dedup AS (SELECT *, row_number() OVER (
            PARTITION BY last ORDER BY g DESC) AS rk FROM uni)
SELECT completion, score FROM dedup WHERE rk = 1
ORDER BY score DESC, completion LIMIT {num}"""


_FREETEXT_KEY = "stream column s"


@gate(
    "fts_freetext_suggest",
    _freetext_sql(["stream", "column"], "s"),
)
def fts_freetext_suggest(spark, sf_dir):
    """FreeTextSuggester: stupid-backoff n-gram LM completion of the
    partially-typed last token 'stream column s|' — trigram model
    first, then bigram at ALPHA, then unigram at ALPHA², completions
    deduped by last token from the highest order that saw them
    (reference lucene/suggest/.../analyzing/FreeTextSuggester.java:133,
    506-683; raw backed-off probability emitted instead of the
    Long.MAX_VALUE-scaled long — ordering identical)."""
    from .search.freetext import build_freetext_model, freetext_lookup

    model = build_freetext_model(
        load(spark, sf_dir, "documents").select("text")
    )
    return freetext_lookup(model, _FREETEXT_KEY, grams=3, num=10)


# -------------------------------------------- group.query (Grouping module)

_GROUP_QUERY_SQL = """
WITH buckets AS (
  SELECT 'urgent' AS grp, o_orderkey, CAST(o_totalprice AS DOUBLE)
    AS o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT 'big' AS grp, o_orderkey, CAST(o_totalprice AS DOUBLE)
    AS o_totalprice FROM orders WHERE o_totalprice > 350000
  UNION ALL
  SELECT 'finished' AS grp, o_orderkey, CAST(o_totalprice AS DOUBLE)
    AS o_totalprice FROM orders WHERE o_orderstatus = 'F'),
ranked AS (
  SELECT grp, o_orderkey, o_totalprice, row_number() OVER (
      PARTITION BY grp ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM buckets)
SELECT grp, o_orderkey, o_totalprice, rnk FROM ranked WHERE rnk <= 3
ORDER BY grp, rnk"""


@gate("rel_group_query", _GROUP_QUERY_SQL)
def rel_group_query(spark, sf_dir):
    """group.query: groups DEFINED BY QUERIES (possibly overlapping),
    each returning its own top-k docs — reference solr/core/.../search/
    Grouping.java (Grouping.CommandQuery: one grouped command per
    group.query=... param, each collecting its own TopDocs window).
    Union of per-query ranked windows; each predicate pushes to the
    scan independently."""
    orders = load(spark, sf_dir, "orders")
    defs = [
        ("urgent", F.col("o_orderpriority") == "1-URGENT"),
        ("big", F.col("o_totalprice") > 350000),
        ("finished", F.col("o_orderstatus") == "F"),
    ]
    from functools import reduce

    parts = [
        orders.filter(pred).select(
            F.lit(name).alias("grp"),
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        for name, pred in defs
    ]
    buckets = reduce(lambda a, b: a.unionByName(b), parts)
    w = W.partitionBy("grp").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        buckets.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("grp", "rnk")
    )


# ----------------------------------------- uniqueBlock() (block-join facet)

_UNIQUE_BLOCK_SQL = """
SELECT l_returnflag AS flag,
       CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_parents,
       CAST(count(*) AS BIGINT) AS n_children
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 300000 AND l.l_quantity >= 30
GROUP BY l_returnflag
ORDER BY flag"""


@gate("rel_unique_block", _UNIQUE_BLOCK_SQL)
def rel_unique_block(spark, sf_dir):
    """uniqueBlock(_root_) — the block-join facet agg: facet child docs
    but count each PARENT block once per bucket (reference solr/core/
    .../search/facet/UniqueBlockAgg.java: collectOrdToSlot keyed by the
    block's parent ordinal; BlockJoinFacetComponent's child-facet
    dedup). DataFrame shape: child facet groupBy with
    count(DISTINCT parent_key) beside the raw child count — one
    hash-agg, parent ids never leave their partition pre-combine."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    parents = orders.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey"
    )
    kids = lineitem.filter(F.col("l_quantity") >= 30).join(
        parents, lineitem.l_orderkey == parents.o_orderkey
    )
    return (
        kids.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.countDistinct("l_orderkey").cast("long").alias("n_parents"),
            F.count("*").cast("long").alias("n_children"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------- {!frange} FunctionRangeQuery

_FRANGE_SQL = """
SELECT o_orderkey,
       round(CAST(o_totalprice AS DOUBLE) /
             (1.0 + date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE))), 6) AS fval
FROM orders
WHERE CAST(o_totalprice AS DOUBLE) /
      (1.0 + date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE))) BETWEEN 500 AND 600
ORDER BY o_orderkey"""


@gate("rel_frange_query", _FRANGE_SQL)
def rel_frange_query(spark, sf_dir):
    """{!frange l=500 u=600} over a computed ValueSource — Solr's
    FunctionRangeQuery filters docs by a FUNCTION of their fields, not
    a stored column (reference solr/core/.../search/
    FunctionRangeQuery.java + FunctionQParser 'frange'; here the
    function is price / (1 + days-since-epoch'95), a recip/div
    composition). Catalyst evaluates the expression inside the scan
    filter — no materialization, full pushdown of the referenced
    columns only."""
    orders = load(spark, sf_dir, "orders")
    fval = F.col("o_totalprice").cast("double") / (
        F.lit(1.0)
        + F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01"))
    )
    return (
        orders.filter(fval.between(500, 600))
        .select("o_orderkey", F.round(fval, 6).alias("fval"))
        .orderBy("o_orderkey")
    )


# ------------------------------------- JSON facet: stats inside buckets

_BUCKET_STATS_SQL = """
SELECT o_orderpriority AS bucket,
       CAST(count(*) AS BIGINT) AS cnt,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS avg_price,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
FROM orders
GROUP BY o_orderpriority
ORDER BY bucket"""


@gate("rel_facet_bucket_stats", _BUCKET_STATS_SQL)
def rel_facet_bucket_stats(spark, sf_dir):
    """JSON facet sub-aggregations: stat facets nested INSIDE term
    buckets — facet={prio:{terms:{field:o_orderpriority, facet:{
    avg_price:'avg(...)', n_cust:'unique(...)'}}}} (reference
    solr/core/.../search/facet/FacetField.java bucket processing +
    the Agg classes; per-bucket aggs accumulate into the bucket's
    slot). One partial+final hash-agg computes every bucket's stat
    set — Solr's per-slot accumulators are exactly Spark's partial
    aggregation buffers."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double") / F.count("*"),
                6,
            ).alias("avg_price"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.countDistinct("o_custkey").cast("long").alias("n_cust"),
        )
        .orderBy("bucket")
    )


# ------------------------------ flexible StandardQueryParser (multi-field)

_FLEX_SQL = """WITH tokp AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS pos
  FROM documents),
dlb AS (SELECT doc_id, count(*) AS dl FROM tokp GROUP BY doc_id),
dlt AS (SELECT doc_id, least(count(*), 8) AS dl FROM tokp GROUP BY doc_id),
nt(lo, hi, qdl) AS (VALUES {NORM_VALUES}),
qdb AS (SELECT d.doc_id, nt.qdl FROM dlb d JOIN nt
        ON d.dl BETWEEN nt.lo AND nt.hi),
qdt AS (SELECT d.doc_id, nt.qdl FROM dlt d JOIN nt
        ON d.dl BETWEEN nt.lo AND nt.hi),
sb AS (SELECT count(*) AS doc_count, sum(dl) AS sum_ttf FROM dlb),
st AS (SELECT count(*) AS doc_count, sum(dl) AS sum_ttf FROM dlt),
tfb AS (SELECT doc_id, term, count(*) AS freq FROM tokp
        WHERE term IN ('spark', 'merge') GROUP BY doc_id, term),
tft AS (SELECT doc_id, term, count(*) AS freq FROM tokp
        WHERE term IN ('spark', 'merge') AND pos <= 8
        GROUP BY doc_id, term),
dfb AS (SELECT term, count(*) AS df FROM tfb GROUP BY term),
dft AS (SELECT term, count(*) AS df FROM tft GROUP BY term),
scb AS (SELECT t.doc_id, t.term,
               1.0 * ln(1 + (s.doc_count - d.df + 0.5) / (d.df + 0.5))
                 * (t.freq / (t.freq + 1.2 * (0.25
                    + 0.75 * q.qdl / (s.sum_ttf / s.doc_count)))) AS s
        FROM tfb t JOIN dfb d USING (term)
        JOIN qdb q ON q.doc_id = t.doc_id CROSS JOIN sb s),
sct AS (SELECT t.doc_id, t.term,
               1.0 * ln(1 + (s.doc_count - d.df + 0.5) / (d.df + 0.5))
                 * (t.freq / (t.freq + 1.2 * (0.25
                    + 0.75 * q.qdl / (s.sum_ttf / s.doc_count)))) AS s
        FROM tft t JOIN dft d USING (term)
        JOIN qdt q ON q.doc_id = t.doc_id CROSS JOIN st s),
u AS (SELECT * FROM scb UNION ALL SELECT * FROM sct),
comb AS (SELECT doc_id, term, sum(s) AS ts
         FROM u GROUP BY doc_id, term)
SELECT doc_id, round(sum(ts), 4) AS score
FROM comb GROUP BY doc_id HAVING count(*) = 2
ORDER BY doc_id""".replace("{NORM_VALUES}", _NORM_VALUES)


@gate("fts_parsed_flexible", _FLEX_SQL)
def fts_parsed_flexible(spark, sf_dir):
    """Flexible StandardQueryParser with setMultiFields([body, title])
    and default operator AND on 'spark merge': every unfielded term
    expands to a SHOULD group over both fields
    (MultiFieldQueryNodeProcessor.java — scores SUM across fields,
    i.e. the tie=1.0 dismax degenerate), and AND requires each term
    matched in at least one field (reference lucene/queryparser/.../
    flexible/standard/StandardQueryParser.java,
    processors/MultiFieldQueryNodeProcessor.java)."""
    from .search.flexparser import standard_multifield_search

    out = standard_multifield_search(
        {
            "body": docs_index(spark, sf_dir),
            "title": docs_title_index(spark, sf_dir),
        },
        "spark merge",
        default_operator="and",
        k=None,
        precision="double",
    )
    return out.withColumn("score", F.round("score", 4)).orderBy("doc_id")


# --------------------------- hypothesis-test / empirical-dist evaluators

_EVAL_TESTS_SQL = """
WITH q AS (SELECT l_linestatus, CAST(l_quantity AS DOUBLE) AS x,
                  CAST(l_quantity AS DECIMAL(18,2)) AS xd,
                  l_returnflag
           FROM lineitem),
m AS (
  SELECT l_linestatus,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(xd) AS DOUBLE) AS sx,
         CAST(sum(xd * xd) AS DOUBLE) AS sxx
  FROM q GROUP BY l_linestatus),
mv AS (
  SELECT l_linestatus, n, sx / n AS mean,
         (sxx - sx * sx / n) / (n - 1) AS var
  FROM m),
tt AS (
  SELECT a.mean - b.mean AS dmean,
         a.var / a.n AS se_a, b.var / b.n AS se_b,
         a.n AS na, b.n AS nb
  FROM mv a, mv b WHERE a.l_linestatus = 'F' AND b.l_linestatus = 'O'),
ttest AS (
  SELECT 'ttest' AS stat,
         round(dmean / sqrt(se_a + se_b), 6) AS v1,
         round(pow(se_a + se_b, 2) /
               (pow(se_a, 2) / (na - 1) + pow(se_b, 2) / (nb - 1)), 4)
           AS v2
  FROM tt),
obs AS (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS o FROM q
        GROUP BY l_returnflag),
chi AS (
  SELECT 'chi2' AS stat,
         round(sum(pow(o - tot / k, 2) / (tot / k)), 6) AS v1,
         CAST(k AS DOUBLE) AS v2
  FROM obs, (SELECT CAST(sum(o) AS DOUBLE) AS tot,
                    CAST(count(*) AS DOUBLE) AS k FROM obs)
  GROUP BY k),
r AS (SELECT x, row_number() OVER (ORDER BY x) AS rk,
             count(*) OVER () AS n
      FROM q),
pc AS (
  SELECT 'pctl_legacy' AS stat,
         round(max(CASE WHEN p = 0.5 THEN val END), 6) AS v1,
         round(max(CASE WHEN p = 0.9 THEN val END), 6) AS v2
  FROM (
    SELECT p.p,
           CASE WHEN floor(p.p * (r1.n + 1)) < 1 THEN lo.minx
                WHEN floor(p.p * (r1.n + 1)) >= r1.n THEN hi.maxx
                ELSE kx.x + (p.p * (r1.n + 1)
                             - floor(p.p * (r1.n + 1))) * (k1x.x - kx.x)
           END AS val
    FROM (SELECT DISTINCT n FROM r) r1
    CROSS JOIN (SELECT 0.5 AS p UNION ALL SELECT 0.9) p
    CROSS JOIN (SELECT min(x) AS minx FROM r) lo
    CROSS JOIN (SELECT max(x) AS maxx FROM r) hi
    LEFT JOIN r kx ON kx.rk = CAST(floor(p.p * (r1.n + 1)) AS BIGINT)
    LEFT JOIN r k1x ON k1x.rk = CAST(floor(p.p * (r1.n + 1)) AS BIGINT) + 1
  ) GROUP BY stat),
rng AS (SELECT min(x) AS lo, max(x) AS hi FROM q),
hist AS (
  SELECT concat('hist_b', CAST(b AS VARCHAR)) AS stat,
         CAST(count(*) AS DOUBLE) AS v1,
         round(min(lo + b * (hi - lo) / 5.0), 6) AS v2
  FROM (SELECT least(CAST(floor((x - lo) / ((hi - lo) / 5.0)) AS BIGINT),
                     4) AS b, lo, hi
        FROM q, rng)
  GROUP BY b)
SELECT stat, v1, v2 FROM ttest
UNION ALL SELECT stat, v1, v2 FROM chi
UNION ALL SELECT stat, v1, v2 FROM pc
UNION ALL SELECT stat, v1, v2 FROM hist
ORDER BY stat"""


@gate("fn_eval_tests", _EVAL_TESTS_SQL)
def fn_eval_tests(spark, sf_dir):
    """Hypothesis-test + empirical-distribution stream evaluators:
    Welch two-sample t (reference solr/solrj/.../io/eval/
    TTestEvaluator.java → commons-math TTest.t: unequal-variance
    statistic + Welch–Satterthwaite df), chi-square goodness-of-fit
    (ChiSquareDataSetEvaluator analog, uniform expected), the
    commons-math LEGACY percentile (PercentileEvaluator.java —
    pos = p·(n+1) with linear interpolation, NOT Spark/DuckDB's
    built-in R-7), and EmpiricalDistribution equal-width histogram
    bins (HistogramEvaluator.java). Moments come from
    order-independent DECIMAL sums; the exact percentile needs a
    global order statistic, assigned with the range-repartition +
    driver-prefix-sum pattern (index/docid.py) — a distributed sort,
    never a partition-less rank window (scale users take the t-digest
    rel_percentile path instead)."""
    li = load(spark, sf_dir, "lineitem")
    q = li.select(
        "l_linestatus",
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_quantity").cast("decimal(18,2)").alias("xd"),
        "l_returnflag",
    )
    # Welch t
    m = q.groupBy("l_linestatus").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("xd").cast("double").alias("sx"),
        F.sum(F.col("xd") * F.col("xd")).cast("double").alias("sxx"),
    ).select(
        "l_linestatus", "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
         / (F.col("n") - 1)).alias("var"),
    )
    a = m.filter(F.col("l_linestatus") == "F").select(
        F.col("mean").alias("ma"), (F.col("var") / F.col("n")).alias("se_a"),
        F.col("n").alias("na"))
    b = m.filter(F.col("l_linestatus") == "O").select(
        F.col("mean").alias("mb"), (F.col("var") / F.col("n")).alias("se_b"),
        F.col("n").alias("nb"))
    tt = a.crossJoin(b).select(
        F.lit("ttest").alias("stat"),
        F.round(
            (F.col("ma") - F.col("mb"))
            / F.sqrt(F.col("se_a") + F.col("se_b")), 6
        ).alias("v1"),
        F.round(
            F.pow(F.col("se_a") + F.col("se_b"), 2)
            / (F.pow(F.col("se_a"), 2) / (F.col("na") - 1)
               + F.pow(F.col("se_b"), 2) / (F.col("nb") - 1)), 4
        ).alias("v2"),
    )
    # chi-square GoF vs uniform
    obs = q.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("o")
    )
    tot = obs.agg(
        F.sum("o").alias("tot"), F.count("*").cast("double").alias("k")
    )
    chi = (
        obs.crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.round(
                F.sum(
                    F.pow(F.col("o") - F.col("tot") / F.col("k"), 2)
                    / (F.col("tot") / F.col("k"))
                ), 6
            ).alias("v1")
        )
        .select(
            F.lit("chi2").alias("stat"), "v1",
            F.col("k").cast("double").alias("v2"),
        )
    )
    # commons-math LEGACY percentile: pos = p(n+1), linear interp.
    # ranks via the distributed-sort prefix-sum (value-at-rank is
    # well-defined under ties even though rank-of-duplicate is not)
    from .index.docid import with_doc_ids

    r = with_doc_ids(
        q.select("x"), order_cols=("x",), id_col="_rk0"
    ).select("x", (F.col("_rk0") + 1).alias("rk"))
    n_row = q.agg(
        F.count("*").cast("double").alias("n"),
        F.min("x").alias("minx"), F.max("x").alias("maxx"))

    def _pctl(p: float):
        k = F.floor(F.lit(p) * (F.col("n") + 1))
        g = F.lit(p) * (F.col("n") + 1) - k
        # join only the two needed ranks
        kx = (
            r.join(n_row.select(F.col("n").alias("nn")), F.col("rk")
                   == F.floor(F.lit(p) * (F.col("nn") + 1)))
            .select(F.col("x").alias("kx"))
        )
        k1x = (
            r.join(n_row.select(F.col("n").alias("nn")), F.col("rk")
                   == F.floor(F.lit(p) * (F.col("nn") + 1)) + 1)
            .select(F.col("x").alias("k1x"))
        )
        return (
            n_row.crossJoin(F.broadcast(kx)).crossJoin(F.broadcast(k1x))
            .select(
                F.when(k < 1, F.col("minx"))
                .when(k >= F.col("n"), F.col("maxx"))
                .otherwise(F.col("kx") + g * (F.col("k1x") - F.col("kx")))
                .alias("val")
            )
        )

    pc = (
        _pctl(0.5).select(F.round("val", 6).alias("p50"))
        .crossJoin(_pctl(0.9).select(F.round("val", 6).alias("p90")))
        .select(
            F.lit("pctl_legacy").alias("stat"),
            F.col("p50").alias("v1"), F.col("p90").alias("v2"),
        )
    )
    # equal-width histogram, 5 bins
    rng = q.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    hist = (
        q.crossJoin(F.broadcast(rng))
        .select(
            F.least(
                F.floor(
                    (F.col("x") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 5.0)
                ).cast("long"),
                F.lit(4).cast("long"),
            ).alias("b"),
            "lo", "hi",
        )
        .groupBy("b")
        .agg(
            F.count("*").cast("double").alias("v1"),
            F.round(
                F.min(F.col("lo") + F.col("b") * (F.col("hi") - F.col("lo"))
                      / 5.0), 6
            ).alias("v2"),
        )
        .select(
            F.concat(F.lit("hist_b"), F.col("b").cast("string")).alias(
                "stat"
            ),
            "v1", "v2",
        )
    )
    return (
        tt.unionByName(chi).unionByName(pc).unionByName(hist)
        .orderBy("stat")
    )


# --------------------------------------------------- DrillSideways facets

# --------------------- deterministic markovChain (seeded generation)

_MC_STATES = 3
_MC_FIT_N = 256
_MC_STEPS = 24


def _markov_sql() -> str:
    """Fit CTE (pair counts over the deterministic state sequence →
    row-normalized probabilities pivoted to one 9-column row) + the
    generation unrolled one CTE per step, each selecting the next
    state by the Weyl-stream uniform against the current state's
    cumulative probabilities."""
    base = f"""
WITH seq AS (
  SELECT i, ((i * 13 + (i * i) % 17) % 7) % {_MC_STATES} AS s
  FROM (SELECT unnest(range(0, {_MC_FIT_N})) AS i)),
pairs AS (
  SELECT a.s AS sa, b.s AS sb, count(*) AS c
  FROM seq a JOIN seq b ON b.i = a.i + 1 GROUP BY a.s, b.s),
tot AS (SELECT sa, sum(c) AS t FROM pairs GROUP BY sa),
mtx AS (SELECT {', '.join(
    f"max(CASE WHEN p.sa = {a} AND p.sb = {b} THEN "
    f"CAST(p.c AS DOUBLE) / CAST(t.t AS DOUBLE) ELSE NULL END)"
    f" AS m{a}{b}"
    for a in range(_MC_STATES) for b in range(_MC_STATES))}
  FROM pairs p JOIN tot t ON t.sa = p.sa),
g0 AS (SELECT 0 AS state FROM mtx)"""
    ctes = [base]
    for t in range(1, _MC_STEPS):
        u = (
            f"(CAST(({t} * 2654435761) % 4294967296 AS DOUBLE)"
            f" / 4294967296.0)"
        )
        p0 = " ".join(
            f"WHEN g{t - 1}.state = {a} THEN m{a}0"
            for a in range(_MC_STATES)
        )
        p1 = " ".join(
            f"WHEN g{t - 1}.state = {a} THEN m{a}0 + m{a}1"
            for a in range(_MC_STATES)
        )
        ctes.append(
            f""",
g{t} AS (
  SELECT CASE WHEN {u} < (CASE {p0} END) THEN 0
              WHEN {u} < (CASE {p1} END) THEN 1
              ELSE 2 END AS state
  FROM g{t - 1} CROSS JOIN mtx)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {t} AS step, g{t}.state FROM g{t}"
        for t in range(_MC_STEPS)
    )
    return (
        "".join(ctes)
        + f"\n{sel}\nORDER BY step"
    )


@gate("fn_eval_markovchain", _markov_sql())
def fn_eval_markovchain(spark, sf_dir):
    """markovChain + sample evaluators, DETERMINISTIC variant
    (reference solr/solrj/.../io/eval/MarkovChainEvaluator.java fits a
    transition matrix and samples states with a wall-clock-seeded RNG
    — declared divergence: the Weyl-stream uniforms
    u_t=(t*2654435761 mod 2^32)/2^32, the fn_eval_montecarlo stream).
    The FIT is distributed (adjacent-pair self-join + two hash-aggs,
    exact integer counts → double row-normalization); generation pulls
    the 3x3 matrix to the driver (a bounded k^2-scalar pull — the
    reference generates driver-side too) and walks 24 steps with
    cumulative-probability thresholds.  Oracle unrolls the walk as one
    CTE per step over the pivoted matrix row."""
    seq = spark.range(0, _MC_FIT_N).select(
        F.col("id").alias("i"),
        (((F.col("id") * 13 + (F.col("id") * F.col("id")) % 17) % 7)
         % _MC_STATES).alias("s"),
    )
    nxt = seq.select(
        (F.col("i") - 1).alias("i"), F.col("s").alias("s2")
    )
    pairs = (
        seq.join(nxt, "i")
        .groupBy("s", "s2")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    cnt = {}
    tot = {}
    for r in pairs:
        cnt[(int(r["s"]), int(r["s2"]))] = int(r["c"])
        tot[int(r["s"])] = tot.get(int(r["s"]), 0) + int(r["c"])
    P = {
        a: [
            float(cnt.get((a, b), 0)) / float(tot[a])
            for b in range(_MC_STATES)
        ]
        for a in range(_MC_STATES)
    }
    chain = [0]
    for t in range(1, _MC_STEPS):
        u = float((t * 2654435761) % 4294967296) / 4294967296.0
        row = P[chain[-1]]
        if u < row[0]:
            chain.append(0)
        elif u < row[0] + row[1]:
            chain.append(1)
        else:
            chain.append(2)
    return spark.createDataFrame(
        [(t, chain[t]) for t in range(_MC_STEPS)],
        "step long, state int",
    ).orderBy("step")


# ---------------- deterministic gaussFit / harmonicFit (closed form)

_GF_SQL = """
WITH s AS (
  SELECT CAST(x AS DOUBLE) AS x,
         5.0 * exp(-(CAST(x AS DOUBLE) - 30.0) * (CAST(x AS DOUBLE) - 30.0)
                   / 128.0)
         + 0.01 * CAST((x * 7) % 5 AS DOUBLE) AS y
  FROM (SELECT unnest(range(10, 51)) AS x)),
l AS (
  SELECT x, CAST(round(ln(y), 12) AS DECIMAL(28,12)) AS ly FROM s),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS s0,
         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS s2,
         CAST(sum(CAST(x * x * x AS DECIMAL(18,6))) AS DOUBLE) AS s3,
         CAST(sum(CAST(x * x * x * x AS DECIMAL(18,6))) AS DOUBLE) AS s4,
         CAST(sum(ly) AS DOUBLE) AS t0,
         CAST(sum(CAST(x AS DECIMAL(10,0)) * ly) AS DOUBLE) AS t1,
         CAST(sum(CAST(x * x AS DECIMAL(10,0)) * ly) AS DOUBLE) AS t2
  FROM l),
q AS (
  SELECT
    (s0*(s2*s4-s3*s3) - s1*(s1*s4-s2*s3) + s2*(s1*s3-s2*s2)) AS det,
    (t0*(s2*s4-s3*s3) - s1*(t1*s4-t2*s3) + s2*(t1*s3-t2*s2)) AS detA,
    (s0*(t1*s4-t2*s3) - t0*(s1*s4-s2*s3) + s2*(s1*t2-s2*t1)) AS detB,
    (s0*(s2*t2-s3*t1) - s1*(s1*t2-s2*t1) + t0*(s1*s3-s2*s2)) AS detC
  FROM m),
fit AS (
  SELECT detA/det AS A, detB/det AS B, detC/det AS C FROM q)
SELECT 'gauss' AS curve,
       round(exp(A - B*B/(4.0*C)), 6) AS p_a,
       round(-B/(2.0*C), 6) AS p_b,
       round(sqrt(-1.0/(2.0*C)), 6) AS p_c
FROM fit"""


@gate("fn_eval_gaussfit", _GF_SQL)
def fn_eval_gaussfit(spark, sf_dir):
    """gaussFit + GetAmplitude/GetCentre/GetSigma evaluators,
    DETERMINISTIC variant (reference solr/solrj/.../io/eval/
    GaussFitEvaluator.java wraps commons-math GaussianCurveFitter's
    Levenberg-Marquardt with heuristic starts — declared divergence:
    closed-form log-parabola least squares, ln y = A + Bx + Cx^2 via
    the 3x3 normal equations, then a = exp(A - B^2/4C), b = -B/2C,
    sigma = sqrt(-1/2C)).  Moments fold as DECIMAL sums (exact
    integer powers of x; ln y rounded to 12 dp) so the fit is
    order-independent and bit-identical across engines; everything is
    one hash-agg over a range projection — fully parallel."""
    x = F.col("id").cast("double")
    s = spark.range(10, 51).select(
        F.col("id").alias("xi"),
        x.alias("x"),
        (
            5.0 * F.exp(-(x - 30.0) * (x - 30.0) / 128.0)
            + 0.01 * ((F.col("id") * 7) % 5).cast("double")
        ).alias("y"),
    )
    lv = s.select(
        "xi",
        F.round(F.log("y"), 12).cast("decimal(28,12)").alias("ly"),
    )
    m = lv.agg(
        F.count("*").cast("double").alias("s0"),
        F.sum(F.col("xi").cast("decimal(18,6)")).cast("double")
        .alias("s1"),
        F.sum((F.col("xi") * F.col("xi")).cast("decimal(18,6)"))
        .cast("double").alias("s2"),
        F.sum((F.col("xi") * F.col("xi") * F.col("xi"))
              .cast("decimal(18,6)")).cast("double").alias("s3"),
        F.sum((F.col("xi") * F.col("xi") * F.col("xi") * F.col("xi"))
              .cast("decimal(18,6)")).cast("double").alias("s4"),
        F.sum("ly").cast("double").alias("t0"),
        F.sum(F.col("xi").cast("decimal(10,0)") * F.col("ly"))
        .cast("double").alias("t1"),
        F.sum((F.col("xi") * F.col("xi")).cast("decimal(10,0)")
              * F.col("ly")).cast("double").alias("t2"),
    )
    s0, s1, s2 = F.col("s0"), F.col("s1"), F.col("s2")
    s3, s4 = F.col("s3"), F.col("s4")
    t0, t1, t2 = F.col("t0"), F.col("t1"), F.col("t2")
    det = (s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
           + s2 * (s1 * s3 - s2 * s2))
    detA = (t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - t2 * s3)
            + s2 * (t1 * s3 - t2 * s2))
    detB = (s0 * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3)
            + s2 * (s1 * t2 - s2 * t1))
    detC = (s0 * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s2 * t1)
            + t0 * (s1 * s3 - s2 * s2))
    q = m.select(
        (detA / det).alias("A"),
        (detB / det).alias("B"),
        (detC / det).alias("C"),
    )
    A, B, C = F.col("A"), F.col("B"), F.col("C")
    return q.select(
        F.lit("gauss").alias("curve"),
        F.round(F.exp(A - B * B / (4.0 * C)), 6).alias("p_a"),
        F.round(-B / (2.0 * C), 6).alias("p_b"),
        F.round(F.sqrt(-1.0 / (2.0 * C)), 6).alias("p_c"),
    )


_HF_N = 64

_HF_SQL = f"""
WITH s AS (
  SELECT CAST(x AS DOUBLE) AS x, x AS xi,
         2.5 * sin(0.3 * CAST(x AS DOUBLE) + 0.8)
         + 0.01 * CAST((x * 11) % 7 AS DOUBLE) AS y
  FROM (SELECT unnest(range(0, {_HF_N})) AS x)),
bins AS (SELECT unnest(range(1, {_HF_N} // 2)) AS k),
pw AS (
  SELECT k,
    CAST(sum(CAST(round(y * cos(2 * pi() * k * x / {_HF_N}.0), 12)
         AS DECIMAL(28,12))) AS DOUBLE) AS cr,
    CAST(sum(CAST(round(y * sin(2 * pi() * k * x / {_HF_N}.0), 12)
         AS DECIMAL(28,12))) AS DOUBLE) AS ci
  FROM s CROSS JOIN bins GROUP BY k),
top AS (
  SELECT k FROM pw
  ORDER BY round(cr*cr + ci*ci, 6) DESC, k ASC LIMIT 1),
ls AS (
  SELECT
    CAST(sum(CAST(round(sin(w*x)*sin(w*x), 12) AS DECIMAL(28,12)))
      AS DOUBLE) AS ss,
    CAST(sum(CAST(round(sin(w*x)*cos(w*x), 12) AS DECIMAL(28,12)))
      AS DOUBLE) AS sc,
    CAST(sum(CAST(round(cos(w*x)*cos(w*x), 12) AS DECIMAL(28,12)))
      AS DOUBLE) AS cc,
    CAST(sum(CAST(round(y*sin(w*x), 12) AS DECIMAL(28,12)))
      AS DOUBLE) AS ys,
    CAST(sum(CAST(round(y*cos(w*x), 12) AS DECIMAL(28,12)))
      AS DOUBLE) AS yc,
    max(w) AS w
  FROM (SELECT s.*, 2 * pi() * top.k / {_HF_N}.0 AS w
        FROM s CROSS JOIN top)),
fit AS (
  SELECT w, (ys*cc - yc*sc) / (ss*cc - sc*sc) AS P,
         (yc*ss - ys*sc) / (ss*cc - sc*sc) AS Q
  FROM ls)
SELECT 'harmonic' AS curve,
       round(sqrt(P*P + Q*Q), 6) AS p_a,
       round(w, 6) AS p_b,
       round(atan2(Q, P), 6) AS p_c
FROM fit"""


@gate("fn_eval_harmonicfit", _HF_SQL)
def fn_eval_harmonicfit(spark, sf_dir):
    """harmonicFit + GetAmplitude/GetAngularFrequency/GetPhase
    evaluators, DETERMINISTIC variant (reference solr/solrj/.../io/
    eval/HarmonicFitEvaluator.java wraps commons-math
    HarmonicCurveFitter's nonlinear optimizer — declared divergence:
    the angular frequency comes from the dominant DFT bin over the
    uniform sample grid, then amplitude/phase from the closed-form
    2x2 linear least squares on sin(wx), cos(wx):
    a = hypot(P, Q), phi = atan2(Q, P)).  All trig products fold as
    12-dp DECIMAL sums (order-independent), bin selection cuts on the
    6-dp rounded power with k-asc ties; two hash-aggs + a 31-row
    broadcast — fully parallel."""
    x = F.col("id").cast("double")
    s = spark.range(0, _HF_N).select(
        x.alias("x"),
        (
            2.5 * F.sin(0.3 * x + 0.8)
            + 0.01 * ((F.col("id") * 11) % 7).cast("double")
        ).alias("y"),
    )
    bins = spark.range(1, _HF_N // 2).select(F.col("id").alias("k"))
    two_pi = 2.0 * math.pi
    wk = F.lit(two_pi) * F.col("k") / float(_HF_N)
    pw = (
        s.crossJoin(F.broadcast(bins))
        .groupBy("k")
        .agg(
            F.sum(
                F.round(F.col("y") * F.cos(wk * F.col("x")), 12)
                .cast("decimal(28,12)")
            ).cast("double").alias("cr"),
            F.sum(
                F.round(F.col("y") * F.sin(wk * F.col("x")), 12)
                .cast("decimal(28,12)")
            ).cast("double").alias("ci"),
        )
    )
    top = (
        pw.orderBy(
            F.desc(F.round(F.col("cr") * F.col("cr")
                           + F.col("ci") * F.col("ci"), 6)),
            F.asc("k"),
        )
        .limit(1)
        .select((F.lit(two_pi) * F.col("k") / float(_HF_N)).alias("w"))
    )
    j = s.crossJoin(F.broadcast(top))
    w, xx, y = F.col("w"), F.col("x"), F.col("y")

    def dsum(expr, name):
        return F.sum(
            F.round(expr, 12).cast("decimal(28,12)")
        ).cast("double").alias(name)

    ls = j.agg(
        dsum(F.sin(w * xx) * F.sin(w * xx), "ss"),
        dsum(F.sin(w * xx) * F.cos(w * xx), "sc"),
        dsum(F.cos(w * xx) * F.cos(w * xx), "cc"),
        dsum(y * F.sin(w * xx), "ys"),
        dsum(y * F.cos(w * xx), "yc"),
        F.max("w").alias("w"),
    )
    ss, sc, cc = F.col("ss"), F.col("sc"), F.col("cc")
    ys, yc = F.col("ys"), F.col("yc")
    den = ss * cc - sc * sc
    fit = ls.select(
        "w",
        ((ys * cc - yc * sc) / den).alias("P"),
        ((yc * ss - ys * sc) / den).alias("Q"),
    )
    return fit.select(
        F.lit("harmonic").alias("curve"),
        F.round(
            F.sqrt(F.col("P") * F.col("P") + F.col("Q") * F.col("Q")),
            6,
        ).alias("p_a"),
        F.round("w", 6).alias("p_b"),
        F.round(F.atan2(F.col("Q"), F.col("P")), 6).alias("p_c"),
    )


# ------------------------- seeded deterministic kmeans / monteCarlo

_KM_K = 3
_KM_ITERS = 8
_KM_N = 200


def _km_points_sql() -> str:
    return f"""
  SELECT k AS pid,
         CAST((k * 37) % 97 AS DECIMAL(10,4)) AS x,
         CAST((k * 53) % 89 AS DECIMAL(10,4)) AS y
  FROM (SELECT c_custkey AS k FROM customer WHERE c_custkey <= {_KM_N})"""


def _kmeans_sql() -> str:
    """Unrolled Lloyd iterations as chained CTEs: assignment = the
    same 3-way CASE argmin over the previous round's centroid scalars
    (cross-joined single centroid row), update = DECIMAL sums / count
    rounded to 12 dp so the fold is order-independent."""
    base = f"WITH pts AS ({_km_points_sql()}),\n"
    init = (
        "c0 AS (SELECT "
        + ", ".join(
            f"max(CASE WHEN pid = {j + 1} THEN CAST(x AS DOUBLE) END)"
            f" AS cx{j}, "
            f"max(CASE WHEN pid = {j + 1} THEN CAST(y AS DOUBLE) END)"
            f" AS cy{j}"
            for j in range(_KM_K)
        )
        + " FROM pts),\n"
    )
    its = []
    prev = "c0"
    for i in range(_KM_ITERS):
        d = [
            f"(CAST(x AS DOUBLE) - cx{j}) * (CAST(x AS DOUBLE) - cx{j})"
            f" + (CAST(y AS DOUBLE) - cy{j}) * (CAST(y AS DOUBLE) - cy{j})"
            for j in range(_KM_K)
        ]
        cid = (
            f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} THEN 0 "
            f"WHEN {d[1]} <= {d[2]} THEN 1 ELSE 2 END"
        )
        its.append(
            f"a{i} AS (SELECT pid, x, y, {cid} AS cid"
            f" FROM pts CROSS JOIN {prev}),\n"
            f"c{i + 1} AS (SELECT "
            + ", ".join(
                f"round(CAST(sum(CASE WHEN cid = {j} THEN x END)"
                f" AS DOUBLE) / sum(CASE WHEN cid = {j} THEN 1 END),"
                f" 12) AS cx{j}, "
                f"round(CAST(sum(CASE WHEN cid = {j} THEN y END)"
                f" AS DOUBLE) / sum(CASE WHEN cid = {j} THEN 1 END),"
                f" 12) AS cy{j}"
                for j in range(_KM_K)
            )
            + f" FROM a{i}),\n"
        )
        prev = f"c{i + 1}"
    # final assignment with the CONVERGED centroids (c{ITERS}) — the
    # Spark side likewise assigns once more after its last update
    d = [
        f"(CAST(x AS DOUBLE) - cx{j}) * (CAST(x AS DOUBLE) - cx{j})"
        f" + (CAST(y AS DOUBLE) - cy{j}) * (CAST(y AS DOUBLE) - cy{j})"
        for j in range(_KM_K)
    ]
    cid = (
        f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} THEN 0 "
        f"WHEN {d[1]} <= {d[2]} THEN 1 ELSE 2 END"
    )
    fin = f"""
af AS (SELECT pid, x, y, {cid} AS cid
       FROM pts CROSS JOIN c{_KM_ITERS}),
fin AS (SELECT cid, count(*) AS n,
               round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS cx,
               round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS cy
        FROM af GROUP BY cid)
SELECT cid, CAST(n AS BIGINT) AS n, cx, cy FROM fin ORDER BY cid"""
    return base + init + "".join(its) + fin


@gate("fn_eval_kmeans", _kmeans_sql())
def fn_eval_kmeans(spark, sf_dir):
    """kmeans stream evaluator, DETERMINISTIC variant (reference
    solr/solrj/.../io/eval/KmeansEvaluator.java wraps commons-math
    KMeansPlusPlusClusterer with RANDOM init — declared divergence:
    pinned init = points 1..k, fixed 8 Lloyd iterations instead of
    convergence-with-random-restarts, empty-cluster strategy
    unexercised by the fixture).  Spark shape: per round the k=3
    centroids come to the driver (a bounded k-row pull — the cluster
    analog is a broadcast) and the next assignment is a pure 3-way
    CASE argmin Column over the scan; centroid update is one
    DECIMAL-sum hash-agg.  No window, no crossJoin of the corpus."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= _KM_N
    )
    pts = c.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 37) % 97).cast("decimal(10,4)")
        .alias("x"),
        ((F.col("c_custkey") * 53) % 89).cast("decimal(10,4)")
        .alias("y"),
    )
    init = pts.filter(F.col("pid") <= _KM_K).select(
        "pid", F.col("x").cast("double"), F.col("y").cast("double")
    ).collect()
    cents = {
        r["pid"] - 1: (float(r["x"]), float(r["y"])) for r in init
    }

    def assign(cs):
        xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
        d = [
            (xd - F.lit(cs[j][0])) * (xd - F.lit(cs[j][0]))
            + (yd - F.lit(cs[j][1])) * (yd - F.lit(cs[j][1]))
            for j in range(_KM_K)
        ]
        return F.when((d[0] <= d[1]) & (d[0] <= d[2]), 0).when(
            d[1] <= d[2], 1
        ).otherwise(2)

    for _ in range(_KM_ITERS):
        a = pts.withColumn("cid", assign(cents))
        # rounding happens IN the engine (F.round = HALF_UP over the
        # decimal rendering, same as the oracle's round()) — a driver
        # round() would be banker's-rounding on binary and can flip a
        # boundary point's assignment
        rows = (
            a.groupBy("cid")
            .agg(
                F.round(
                    F.sum("x").cast("double") / F.count("*"), 12
                ).alias("cx"),
                F.round(
                    F.sum("y").cast("double") / F.count("*"), 12
                ).alias("cy"),
            )
            .collect()
        )
        cents = {
            r["cid"]: (float(r["cx"]), float(r["cy"])) for r in rows
        }
    a = pts.withColumn("cid", assign(cents))
    return (
        a.groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("x").cast("double") / F.count("*"), 6)
            .alias("cx"),
            F.round(F.sum("y").cast("double") / F.count("*"), 6)
            .alias("cy"),
        )
        .orderBy("cid")
    )


_MKM_RESTARTS = ((1, 2, 3), (4, 5, 6))


def _multikmeans_sql() -> str:
    """Two full unrolled Lloyd chains (one per pinned restart init),
    each followed by an SSE fold (per-point squared distance to its
    final centroid, 12-dp DECIMAL sum), a min-SSE winner CASE, and the
    winner's grouped clusters."""
    base = f"WITH pts AS ({_km_points_sql()})"
    parts = [base]
    for r, init_pids in enumerate(_MKM_RESTARTS):
        pfx = f"r{r}"
        parts.append(
            f",\n{pfx}c0 AS (SELECT "
            + ", ".join(
                f"max(CASE WHEN pid = {p} THEN CAST(x AS DOUBLE) END)"
                f" AS cx{j}, "
                f"max(CASE WHEN pid = {p} THEN CAST(y AS DOUBLE) END)"
                f" AS cy{j}"
                for j, p in enumerate(init_pids)
            )
            + " FROM pts)"
        )
        prev = f"{pfx}c0"
        d = [
            f"(CAST(x AS DOUBLE) - cx{j}) * (CAST(x AS DOUBLE) - cx{j})"
            f" + (CAST(y AS DOUBLE) - cy{j}) * (CAST(y AS DOUBLE) - cy{j})"
            for j in range(_KM_K)
        ]
        cid = (
            f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} THEN 0 "
            f"WHEN {d[1]} <= {d[2]} THEN 1 ELSE 2 END"
        )
        for i in range(_KM_ITERS):
            parts.append(
                f",\n{pfx}a{i} AS (SELECT pid, x, y, {cid} AS cid"
                f" FROM pts CROSS JOIN {prev})"
                f",\n{pfx}c{i + 1} AS (SELECT "
                + ", ".join(
                    f"round(CAST(sum(CASE WHEN cid = {j} THEN x END)"
                    f" AS DOUBLE) / sum(CASE WHEN cid = {j} THEN 1 END),"
                    f" 12) AS cx{j}, "
                    f"round(CAST(sum(CASE WHEN cid = {j} THEN y END)"
                    f" AS DOUBLE) / sum(CASE WHEN cid = {j} THEN 1 END),"
                    f" 12) AS cy{j}"
                    for j in range(_KM_K)
                )
                + f" FROM {pfx}a{i})"
            )
            prev = f"{pfx}c{i + 1}"
        dmin = (
            f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]}"
            f" THEN {d[0]} WHEN {d[1]} <= {d[2]} THEN {d[1]}"
            f" ELSE {d[2]} END"
        )
        parts.append(
            f",\n{pfx}af AS (SELECT pid, x, y, {cid} AS cid,"
            f" {dmin} AS dmin FROM pts CROSS JOIN {prev})"
            f",\n{pfx}sse AS (SELECT CAST(sum(CAST(round(dmin, 12)"
            f" AS DECIMAL(28,12))) AS DOUBLE) AS v FROM {pfx}af)"
            f",\n{pfx}res AS (SELECT {r} AS restart, cid,"
            f" count(*) AS n,"
            f" round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS cx,"
            f" round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS cy"
            f" FROM {pfx}af GROUP BY cid)"
        )
    parts.append(
        ",\nwin AS (SELECT CASE WHEN r0sse.v <= r1sse.v THEN 0"
        " ELSE 1 END AS r,"
        " round(CASE WHEN r0sse.v <= r1sse.v THEN r0sse.v"
        " ELSE r1sse.v END, 6) AS sse"
        " FROM r0sse CROSS JOIN r1sse)\n"
        "SELECT u.restart, u.cid, CAST(u.n AS BIGINT) AS n,"
        " u.cx, u.cy, win.sse\n"
        "FROM (SELECT * FROM r0res UNION ALL SELECT * FROM r1res) u"
        " JOIN win ON u.restart = win.r ORDER BY u.cid"
    )
    return "".join(parts)


@gate("fn_eval_multikmeans", _multikmeans_sql())
def fn_eval_multikmeans(spark, sf_dir):
    """multiKmeans evaluator, DETERMINISTIC variant (reference
    solr/solrj/.../io/eval/MultiKmeansEvaluator.java runs K
    random-init trials and keeps the lowest-SSE clustering — declared
    divergence: two PINNED restart inits, points 1-3 and 4-6, same
    fixed-round Lloyd as fn_eval_kmeans).  SSE folds per restart as a
    12-dp DECIMAL sum of each point's squared distance to its final
    centroid (order-independent, engine-identical); the min-SSE winner
    is selected by comparing those exact doubles.  Scale shape per
    restart is the kmeans gate's (bounded k-row driver pulls per
    round, CASE-argmin Column assignment, hash-agg updates)."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= _KM_N
    )
    pts = c.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 37) % 97).cast("decimal(10,4)")
        .alias("x"),
        ((F.col("c_custkey") * 53) % 89).cast("decimal(10,4)")
        .alias("y"),
    )

    def assign_expr(cs):
        xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
        d = [
            (xd - F.lit(cs[j][0])) * (xd - F.lit(cs[j][0]))
            + (yd - F.lit(cs[j][1])) * (yd - F.lit(cs[j][1]))
            for j in range(_KM_K)
        ]
        cid = F.when((d[0] <= d[1]) & (d[0] <= d[2]), 0).when(
            d[1] <= d[2], 1
        ).otherwise(2)
        dmin = F.when(
            (d[0] <= d[1]) & (d[0] <= d[2]), d[0]
        ).when(d[1] <= d[2], d[1]).otherwise(d[2])
        return cid, dmin

    results = []
    for r, init_pids in enumerate(_MKM_RESTARTS):
        init = pts.filter(F.col("pid").isin(list(init_pids))).select(
            "pid", F.col("x").cast("double"), F.col("y").cast("double")
        ).collect()
        by_pid = {row["pid"]: row for row in init}
        cents = {
            j: (float(by_pid[p]["x"]), float(by_pid[p]["y"]))
            for j, p in enumerate(init_pids)
        }
        for _ in range(_KM_ITERS):
            cid, _d = assign_expr(cents)
            rows = (
                pts.withColumn("cid", cid)
                .groupBy("cid")
                .agg(
                    F.round(
                        F.sum("x").cast("double") / F.count("*"), 12
                    ).alias("cx"),
                    F.round(
                        F.sum("y").cast("double") / F.count("*"), 12
                    ).alias("cy"),
                )
                .collect()
            )
            cents = {
                row["cid"]: (float(row["cx"]), float(row["cy"]))
                for row in rows
            }
        cid, dmin = assign_expr(cents)
        af = pts.withColumn("cid", cid).withColumn("dmin", dmin)
        sse = af.agg(
            F.sum(
                F.round("dmin", 12).cast("decimal(28,12)")
            ).cast("double").alias("v")
        ).collect()[0]["v"]
        res = af.groupBy("cid").agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("x").cast("double") / F.count("*"), 6)
            .alias("cx"),
            F.round(F.sum("y").cast("double") / F.count("*"), 6)
            .alias("cy"),
        )
        results.append((float(sse), r, res))
    sse_win, r_win, res_win = min(results, key=lambda t: (t[0], t[1]))
    return res_win.select(
        F.lit(r_win).alias("restart"),
        "cid",
        "n",
        "cx",
        "cy",
        F.round(F.lit(sse_win), 6).alias("sse"),
    ).orderBy("cid")


_FKM_ITERS = 6


def _fuzzykmeans_sql() -> str:
    """Unrolled fuzzy c-means (m=2): per round, memberships
    u_j = (1/d_j) / Σ(1/d_k) over squared distances (12-dp rounded,
    exact-match guard for points sitting ON a centroid), weights
    w_j = u_j², and centroid updates Σw·x / Σw with 12-dp DECIMAL
    folds.  Final hard assignment = argmax membership, ties cid-asc."""
    parts = [f"WITH pts AS ({_km_points_sql()})"]
    parts.append(
        ",\nfc0 AS (SELECT "
        + ", ".join(
            f"max(CASE WHEN pid = {j + 1} THEN CAST(x AS DOUBLE) END)"
            f" AS cx{j}, "
            f"max(CASE WHEN pid = {j + 1} THEN CAST(y AS DOUBLE) END)"
            f" AS cy{j}"
            for j in range(_KM_K)
        )
        + " FROM pts)"
    )
    d = [
        f"(CAST(x AS DOUBLE) - cx{j}) * (CAST(x AS DOUBLE) - cx{j})"
        f" + (CAST(y AS DOUBLE) - cy{j}) * (CAST(y AS DOUBLE) - cy{j})"
        for j in range(_KM_K)
    ]
    anyz = " OR ".join(f"{dj} = 0" for dj in d)
    su = " + ".join(f"1.0 / ({dj})" for dj in d)
    u = [
        f"CASE WHEN {d[j]} = 0 THEN 1.0"
        f" WHEN {anyz} THEN 0.0"
        f" ELSE round((1.0 / ({d[j]})) / ({su}), 12) END"
        for j in range(_KM_K)
    ]
    prev = "fc0"
    for i in range(_FKM_ITERS):
        parts.append(
            f",\nfu{i} AS (SELECT pid, x, y, "
            + ", ".join(f"{u[j]} AS u{j}" for j in range(_KM_K))
            + f" FROM pts CROSS JOIN {prev})"
            f",\nfc{i + 1} AS (SELECT "
            + ", ".join(
                f"round(CAST(sum(CAST(round(u{j} * u{j}"
                f" * CAST(x AS DOUBLE), 12) AS DECIMAL(28,12)))"
                f" AS DOUBLE) / CAST(sum(CAST(round(u{j} * u{j}, 12)"
                f" AS DECIMAL(28,12))) AS DOUBLE), 12) AS cx{j}, "
                f"round(CAST(sum(CAST(round(u{j} * u{j}"
                f" * CAST(y AS DOUBLE), 12) AS DECIMAL(28,12)))"
                f" AS DOUBLE) / CAST(sum(CAST(round(u{j} * u{j}, 12)"
                f" AS DECIMAL(28,12))) AS DOUBLE), 12) AS cy{j}"
                for j in range(_KM_K)
            )
            + f" FROM fu{i})"
        )
        prev = f"fc{i + 1}"
    parts.append(
        f",\nfin AS (SELECT pid, "
        + ", ".join(f"{u[j]} AS u{j}" for j in range(_KM_K))
        + f" FROM pts CROSS JOIN {prev})"
        ",\nhard AS (SELECT pid,"
        " CASE WHEN u0 >= u1 AND u0 >= u2 THEN 0"
        " WHEN u1 >= u2 THEN 1 ELSE 2 END AS cid FROM fin)"
        ",\ng AS (SELECT cid, CAST(count(*) AS BIGINT) AS n"
        " FROM hard GROUP BY cid)\n"
        "SELECT cid, n,"
        " round(CASE cid WHEN 0 THEN cx0 WHEN 1 THEN cx1"
        " ELSE cx2 END, 6) AS cx,"
        " round(CASE cid WHEN 0 THEN cy0 WHEN 1 THEN cy1"
        " ELSE cy2 END, 6) AS cy\n"
        f"FROM g CROSS JOIN {prev} ORDER BY cid"
    )
    return "".join(parts)


@gate("fn_eval_fuzzykmeans", _fuzzykmeans_sql())
def fn_eval_fuzzykmeans(spark, sf_dir):
    """fuzzyKmeans evaluator, DETERMINISTIC variant (reference
    solr/solrj/.../io/eval/FuzzyKmeansEvaluator.java wraps
    commons-math FuzzyKMeansClusterer with random init — declared
    divergence: pinned init = points 1..k, fuzziness m=2 over squared
    distances, 6 fixed rounds instead of convergence).  Memberships
    round to 12 dp and the weighted centroid updates fold as 12-dp
    DECIMAL sums, so every iteration is bit-identical across engines;
    output = final centroids + hard (argmax-membership) counts.
    Same scale shape as the kmeans gates: per round the k centroids
    are a bounded driver pull, memberships are pure Column arithmetic
    over the scan, updates one hash-agg."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= _KM_N
    )
    pts = c.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 37) % 97).cast("decimal(10,4)")
        .alias("x"),
        ((F.col("c_custkey") * 53) % 89).cast("decimal(10,4)")
        .alias("y"),
    )
    init = pts.filter(F.col("pid") <= _KM_K).select(
        "pid", F.col("x").cast("double"), F.col("y").cast("double")
    ).collect()
    cents = {
        r["pid"] - 1: (float(r["x"]), float(r["y"])) for r in init
    }

    def u_exprs(cs):
        xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
        d = [
            (xd - F.lit(cs[j][0])) * (xd - F.lit(cs[j][0]))
            + (yd - F.lit(cs[j][1])) * (yd - F.lit(cs[j][1]))
            for j in range(_KM_K)
        ]
        anyz = (d[0] == 0) | (d[1] == 0) | (d[2] == 0)
        su = 1.0 / d[0] + 1.0 / d[1] + 1.0 / d[2]
        return [
            F.when(d[j] == 0, 1.0)
            .when(anyz, 0.0)
            .otherwise(F.round((1.0 / d[j]) / su, 12))
            for j in range(_KM_K)
        ]

    for _ in range(_FKM_ITERS):
        u = u_exprs(cents)
        aggs = []
        for j in range(_KM_K):
            w = u[j] * u[j]
            aggs.append(
                F.round(
                    F.sum(
                        F.round(w * F.col("x").cast("double"), 12)
                        .cast("decimal(28,12)")
                    ).cast("double")
                    / F.sum(
                        F.round(w, 12).cast("decimal(28,12)")
                    ).cast("double"),
                    12,
                ).alias(f"cx{j}")
            )
            aggs.append(
                F.round(
                    F.sum(
                        F.round(w * F.col("y").cast("double"), 12)
                        .cast("decimal(28,12)")
                    ).cast("double")
                    / F.sum(
                        F.round(w, 12).cast("decimal(28,12)")
                    ).cast("double"),
                    12,
                ).alias(f"cy{j}")
            )
        row = pts.agg(*aggs).collect()[0]
        cents = {
            j: (float(row[f"cx{j}"]), float(row[f"cy{j}"]))
            for j in range(_KM_K)
        }
    u = u_exprs(cents)
    cid = F.when((u[0] >= u[1]) & (u[0] >= u[2]), 0).when(
        u[1] >= u[2], 1
    ).otherwise(2)
    hard = pts.withColumn("cid", cid)
    # display rounding happens IN-ENGINE (F.round = HALF_UP like the
    # oracle's round(); Python round() is banker's-on-binary)
    cx = F.when(
        F.col("cid") == 0, F.round(F.lit(cents[0][0]), 6)
    ).when(
        F.col("cid") == 1, F.round(F.lit(cents[1][0]), 6)
    ).otherwise(F.round(F.lit(cents[2][0]), 6))
    cy = F.when(
        F.col("cid") == 0, F.round(F.lit(cents[0][1]), 6)
    ).when(
        F.col("cid") == 1, F.round(F.lit(cents[1][1]), 6)
    ).otherwise(F.round(F.lit(cents[2][1]), 6))
    return (
        hard.groupBy("cid")
        .agg(F.count("*").cast("long").alias("n"))
        .select("cid", "n", cx.alias("cx"), cy.alias("cy"))
        .orderBy("cid")
    )


_MC_N = 10000

_MC_SQL = f"""
WITH s AS (
  SELECT i,
         CAST((i * 2654435761) % 4294967296 AS DOUBLE)
           / 4294967296.0 AS u,
         CAST((i * 2246822519 + 3266489917) % 4294967296 AS DOUBLE)
           / 4294967296.0 AS v
  FROM (SELECT unnest(range(1, {_MC_N} + 1)) AS i)),
q AS (
  SELECT CASE WHEN u * u + v * v <= 1.0 THEN 1 ELSE 0 END AS in_circle,
         CAST(round(exp(-u * u), 12) AS DECIMAL(28,12)) AS g
  FROM s)
SELECT 'mc' AS stat,
       round(CAST(4 * sum(in_circle) AS DOUBLE)
             / CAST({_MC_N} AS DOUBLE), 6) AS pi_hat,
       round(CAST(sum(g) AS DOUBLE) / CAST({_MC_N} AS DOUBLE), 6)
         AS integral_hat,
       CAST(sum(in_circle) AS BIGINT) AS n_in
FROM q"""


@gate("fn_eval_montecarlo", _MC_SQL)
def fn_eval_montecarlo(spark, sf_dir):
    """monteCarlo stream evaluator, DETERMINISTIC variant (reference
    solr/solrj/.../io/eval/MonteCarloEvaluator.java draws from
    commons-math samplers seeded by wall clock — declared divergence:
    counter-based uniforms u_i = (i*2654435761 mod 2^32)/2^32, a
    Weyl/Knuth multiplicative stream both engines derive with exact
    BIGINT arithmetic).  Estimates pi (quarter-circle indicator: an
    exact integer count) and the integral of exp(-u^2) (12-dp DECIMAL
    fold, order-independent).  Spark shape: spark.range -> narrow
    projection -> one hash-agg; fully parallel, no Python."""
    s = spark.range(1, _MC_N + 1).select(
        (((F.col("id") * 2654435761) % 4294967296).cast("double")
         / 4294967296.0).alias("u"),
        (((F.col("id") * 2246822519 + 3266489917) % 4294967296)
         .cast("double") / 4294967296.0).alias("v"),
    )
    q = s.select(
        F.when(
            F.col("u") * F.col("u") + F.col("v") * F.col("v") <= 1.0, 1
        ).otherwise(0).alias("in_circle"),
        F.round(F.exp(-F.col("u") * F.col("u")), 12)
        .cast("decimal(28,12)").alias("g"),
    )
    r = q.agg(
        F.sum("in_circle").alias("nin"), F.sum("g").alias("sg")
    )
    return r.select(
        F.lit("mc").alias("stat"),
        F.round(
            (4 * F.col("nin")).cast("double") / F.lit(float(_MC_N)), 6
        ).alias("pi_hat"),
        F.round(
            F.col("sg").cast("double") / F.lit(float(_MC_N)), 6
        ).alias("integral_hat"),
        F.col("nin").cast("long").alias("n_in"),
    )


_DRILL_SIDEWAYS_SQL = """
WITH base AS (
  SELECT o_orderpriority AS prio, o_orderstatus AS status, o_orderkey
  FROM orders),
side_prio AS (
  SELECT 'prio' AS dim, prio AS label, CAST(count(*) AS BIGINT) AS cnt
  FROM base WHERE status = 'O' GROUP BY prio),
side_status AS (
  SELECT 'status' AS dim, status AS label, CAST(count(*) AS BIGINT) AS cnt
  FROM base WHERE prio = '1-URGENT' GROUP BY status),
hits AS (
  SELECT 'hits' AS dim, '' AS label, CAST(count(*) AS BIGINT) AS cnt
  FROM base WHERE status = 'O' AND prio = '1-URGENT')
SELECT dim, label, cnt FROM side_prio
UNION ALL SELECT dim, label, cnt FROM side_status
UNION ALL SELECT dim, label, cnt FROM hits
ORDER BY dim, label"""


@gate("rel_drill_sideways", _DRILL_SIDEWAYS_SQL)
def rel_drill_sideways(spark, sf_dir):
    """DrillSideways: with drill-downs prio='1-URGENT' AND status='O',
    each dimension's facet counts are computed AS IF ITS OWN filter
    were removed (near-miss counts), alongside the fully-drilled hit
    count (reference lucene/facet/.../DrillSideways.java — one facet
    collection per drill-down dim over the query minus that dim, plus
    one for the hits). N dims = N+1 aggregations over ONE base scan;
    Spark reuses the scan via separate filter+agg branches, each
    pushed down independently."""
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
    )
    side_prio = (
        base.filter(F.col("status") == "O")
        .groupBy(F.col("prio").alias("label"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(F.lit("prio").alias("dim"), "label", "cnt")
    )
    side_status = (
        base.filter(F.col("prio") == "1-URGENT")
        .groupBy(F.col("status").alias("label"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(F.lit("status").alias("dim"), "label", "cnt")
    )
    hits = (
        base.filter((F.col("status") == "O") & (F.col("prio") == "1-URGENT"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(F.lit("hits").alias("dim"), F.lit("").alias("label"), "cnt")
    )
    return (
        side_prio.unionByName(side_status).unionByName(hits)
        .orderBy("dim", "label")
    )


# ----------------------------------- ToParentBlockJoinSortField (childfield)

_CHILDFIELD_SORT_SQL = """
SELECT o_orderkey, max_child_price FROM (
  SELECT o.o_orderkey,
         round(max(CAST(l.l_extendedprice AS DOUBLE)), 2)
           AS max_child_price
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY o.o_orderkey)
ORDER BY max_child_price DESC, o_orderkey LIMIT 20"""


@gate("rel_childfield_sort", _CHILDFIELD_SORT_SQL)
def rel_childfield_sort(spark, sf_dir):
    """childfield(..) / ToParentBlockJoinSortField: sort PARENT docs by
    a selected function (max) of a CHILD field (reference lucene/join/
    .../ToParentBlockJoinSortField.java + BlockJoinSelector.java
    Type.MAX; Solr's childfield() sort syntax). One child-side hash-agg
    per parent key, then the global top-k — the block structure means
    the agg is co-located with the join key."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    parents = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    return (
        li.join(parents, li.l_orderkey == parents.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.max(F.col("l_extendedprice").cast("double")), 2
            ).alias("max_child_price")
        )
        .orderBy(F.desc("max_child_price"), F.asc("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------- BlendedInfixSuggester

@gate(
    "fts_suggest_blended_infix",
    f"""
WITH {_SUGG_SQL},
inf AS (
  SELECT key, weight,
         list_min([i FOR i IN range(1, len(string_split(key, ' ')) + 1)
                   IF starts_with(string_split(key, ' ')[i], 'agg')]) - 1
           AS position
  FROM sugg)
SELECT key, CAST(weight AS BIGINT) AS weight,
       CAST(position AS BIGINT) AS position,
       round((CASE WHEN weight < 10 AND weight > -10
                   THEN weight * 10.0 ELSE weight END)
             * (1.0 - 0.10 * position), 6) AS score
FROM inf WHERE position IS NOT NULL
ORDER BY score DESC, key LIMIT 10""",
)
def fts_suggest_blended_infix(spark, sf_dir):
    """BlendedInfixSuggester: 'agg' matched ANYWHERE in the suggestion
    (infix), weight blended by the first matching token position with
    POSITION_LINEAR 1 − 0.10·pos and the ×1/LINEAR_COEF small-weight
    pre-scale (reference lucene/suggest/.../analyzing/
    BlendedInfixSuggester.java:62,230-231,315-317; raw double score
    emitted instead of the long truncation — ordering identical)."""
    from .search.suggest import blended_infix_suggest, build_suggestions

    sugg = build_suggestions(load(spark, sf_dir, "documents"))
    return blended_infix_suggest(sugg, "agg", 10)


# ------------------------------------------ DiversifiedTopDocsCollector

_DIVERSIFIED_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders)
WHERE rk <= 2
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""


@gate("rel_diversified_topk", _DIVERSIFIED_SQL)
def rel_diversified_topk(spark, sf_dir):
    """DiversifiedTopDocsCollector: global top-k with AT MOST
    maxHitsPerKey=2 results sharing a key (reference lucene/misc/.../
    search/DiversifiedTopDocsCollector.java — a priority queue that
    evicts a key's weakest hit when its per-key cap is reached).
    DataFrame shape: per-key window rank caps each key, then the
    global TakeOrdered — both stages partial/partition-local before
    one exchange each."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderkey", "o_orderpriority",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .drop("rk")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ------------------------------- remaining named ValueSource analogs

_VS_MISC_SQL = """
SELECT o_orderkey,
  CAST(date_diff('millisecond', TIMESTAMP '1995-01-01 00:00:00',
                 CAST(o_orderdate AS TIMESTAMP)) AS DOUBLE) AS ms_since,
  round(pow(CAST(o_orderkey % 17 AS DOUBLE) - 8.0, 2)
        + pow(CAST(o_orderkey % 29 AS DOUBLE) - 14.0, 2), 6) AS sqe,
  round(sqrt(pow(CAST(o_orderkey % 17 AS DOUBLE) - 8.0, 2)
             + pow(CAST(o_orderkey % 29 AS DOUBLE) - 14.0, 2)), 6)
    AS dist2,
  round(abs(CAST(o_orderkey % 17 AS DOUBLE) - 8.0)
        + abs(CAST(o_orderkey % 29 AS DOUBLE) - 14.0), 6) AS dist1,
  CASE WHEN nullif(o_orderpriority, '1-URGENT') IS NOT NULL
       THEN 1 ELSE 0 END AS ex,
  coalesce(nullif(o_orderpriority, '1-URGENT'), 'none') AS defv
FROM orders WHERE o_orderkey <= 256
ORDER BY o_orderkey"""


@gate("fn_vs_misc", _VS_MISC_SQL)
def fn_vs_misc(spark, sf_dir):
    """The remaining named function-query analogs, driver-verified:
    ms(date,date) epoch-millis difference, sqedist/dist(p) vector
    distances, exists()/def() null handling (reference solr/core/.../
    search/ValueSourceParser.java — the ms/sqedist/dist/exists/def
    parser registrations). Pure Column expressions
    (functions/valuesource.py)."""
    from .functions.valuesource import def_value, dist, exists, ms, sqedist

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 256)
    xs = [(F.col("o_orderkey") % 17).cast("double"),
          (F.col("o_orderkey") % 29).cast("double")]
    ys = [F.lit(8.0), F.lit(14.0)]
    pri = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")) \
        if hasattr(F, "nullif") else F.expr("nullif(o_orderpriority, '1-URGENT')")
    return o.select(
        "o_orderkey",
        ms(F.col("o_orderdate").cast("timestamp"),
           F.lit("1995-01-01 00:00:00").cast("timestamp"))
        .cast("double").alias("ms_since"),
        F.round(sqedist(xs, ys), 6).alias("sqe"),
        F.round(dist(2, xs, ys), 6).alias("dist2"),
        F.round(dist(1, xs, ys), 6).alias("dist1"),
        exists(pri).cast("int").alias("ex"),
        def_value(pri, F.lit("none")).alias("defv"),
    ).orderBy("o_orderkey")


# -------------------------- KeywordRepeat + RemoveDuplicates chain

_KWREPEAT_SQL = f"""
SELECT term,
       CASE WHEN stem = term THEN term
            ELSE term || ' ' || stem END AS forms,
       CASE WHEN stem = term THEN 1 ELSE 2 END AS n_forms
FROM read_parquet('{_LIGHTSTEM_FIXTURE}')
WHERE lang = 'de'
ORDER BY term"""


@gate("fts_keyword_repeat", _KWREPEAT_SQL)
def fts_keyword_repeat(spark, sf_dir):
    """KeywordRepeatFilter → stemmer → RemoveDuplicatesTokenFilter:
    each token searched as BOTH its exact and stemmed form, the
    duplicate dropped when stemming is a no-op (reference
    lucene/analysis/common/.../miscellaneous/KeywordRepeatFilter.java
    + RemoveDuplicatesTokenFilter.java). Runs the LIVE German light
    stemmer inside the Arrow chain stage over the golden vocabulary;
    the oracle derives the same forms from the frozen fixture stems."""
    from .analysis.filters import keyword_repeat_stems
    from .analysis.lightstem import STEMMERS

    fix = (
        spark.read.parquet(_LIGHTSTEM_FIXTURE)
        .filter(F.col("lang") == "de")
        .select("term")
    )
    out = fix.select(
        "term",
        keyword_repeat_stems(F.array(F.col("term")), STEMMERS["de"]).alias(
            "kr"
        ),
    ).select(
        "term",
        F.array_join(F.element_at(F.col("kr"), 1), " ").alias("forms"),
        F.size(F.element_at(F.col("kr"), 1)).alias("n_forms"),
    )
    return out.orderBy("term")


# ---------------------------------------- distance-ring facets (geodist)

_DIST_RINGS_SQL = """
WITH pts AS (
  SELECT c_custkey,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer WHERE c_custkey <= 2048),
d AS (
  SELECT c_custkey,
         2.0 * 6371.0087714 * asin(sqrt(
           sin(radians(40.0 - lat) / 2) * sin(radians(40.0 - lat) / 2)
           + cos(radians(lat)) * cos(radians(40.0))
             * sin(radians(-74.0 - lon) / 2) * sin(radians(-74.0 - lon) / 2)
         )) AS km
  FROM pts)
SELECT CAST(least(floor(km / 4000.0), 5) AS BIGINT) AS ring,
       CAST(count(*) AS BIGINT) AS cnt,
       round(min(km), 3) AS min_km, round(max(km), 3) AS max_km
FROM d GROUP BY 1 ORDER BY ring"""


@gate("fn_geo_dist_rings", _DIST_RINGS_SQL)
def fn_geo_dist_rings(spark, sf_dir):
    """Distance-ring faceting: facet.query geodist ranges / the
    {!geofilt} ring buckets pattern (reference solr/core/.../search/
    SpatialFilterQParserPlugin.java + facet.query with geodist() —
    count docs per concentric distance band from a point). One
    haversine projection + one hash-agg over the computed ring id —
    no per-ring scans."""
    from .functions.valuesource import geodist

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 2048)
    pts = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7) % 180) - 90 + 0.5).alias("lat"),
        (((F.col("c_custkey") * 13) % 360) - 180 + 0.5).alias("lon"),
    )
    km = geodist(F.col("lat"), F.col("lon"), F.lit(40.0), F.lit(-74.0))
    return (
        pts.select(
            F.least(F.floor(km / 4000.0), F.lit(5)).cast("long").alias(
                "ring"
            ),
            km.alias("km"),
        )
        .groupBy("ring")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.round(F.min("km"), 3).alias("min_km"),
            F.round(F.max("km"), 3).alias("max_km"),
        )
        .orderBy("ring")
    )


# ------------------------------------------ SpanPositionRangeQuery

_SPAN_POSRANGE_SQL = """WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS pos
  FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
nt(lo, hi, qdl) AS (VALUES {NORM_VALUES}),
qd AS (SELECT dl.doc_id, nt.qdl FROM dl JOIN nt
       ON dl.dl BETWEEN nt.lo AND nt.hi),
stats AS (SELECT count(*) AS doc_count, sum(dl) AS sum_ttf FROM dl),
dfq AS (SELECT count(DISTINCT doc_id) AS df FROM tok WHERE term = 'merge'),
sf AS (SELECT doc_id, count(*) AS span_freq FROM tok
       WHERE term = 'merge' AND pos BETWEEN 3 AND 6 GROUP BY doc_id)
SELECT s.doc_id, CAST(s.span_freq AS BIGINT) AS span_freq,
  round(ln(1 + (st.doc_count - d.df + 0.5) / (d.df + 0.5))
        * (s.span_freq / (s.span_freq
           + 1.2 * (1.0 - 0.75
                    + 0.75 * qd.qdl / (st.sum_ttf / st.doc_count)))), 4)
    AS score
FROM sf s JOIN qd ON qd.doc_id = s.doc_id
CROSS JOIN stats st CROSS JOIN dfq d
ORDER BY s.doc_id""".replace("{NORM_VALUES}", _NORM_VALUES)


@gate("fts_span_posrange", _SPAN_POSRANGE_SQL)
def fts_span_posrange(spark, sf_dir):
    """SpanPositionRangeQuery(merge, start=2, end=6): occurrences with
    0-based position in [2, 6) — SpanFirst generalized to a position
    window (reference lucene/core/.../search/spans/
    SpanPositionRangeQuery.java). Same single-term positional leaf
    plan as span_first."""
    from .gate import docs_pos_index
    from .search.phrase import span_position_range

    index = docs_pos_index(spark, sf_dir)
    return (
        span_position_range(index, "merge", 2, 6, k=None,
                            precision="double")
        .select("doc_id", "span_freq", F.round("score", 4).alias("score"))
        .orderBy("doc_id")
    )


_ICU_FOLDS_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "icu_folds.parquet",
)

_ICU_FOLD_SQL = f"""
SELECT word, folded
FROM read_parquet('{_ICU_FOLDS_FIXTURE}')
ORDER BY word"""


@gate("fts_icu_folding", _ICU_FOLD_SQL)
def fts_icu_folding(spark, sf_dir):
    """ICUFoldingFilter (utr30 Normalizer2, COMPOSE mode): folding
    applied LIVE by the Arrow UDF over the golden vocabulary; the
    oracle reads the frozen fold outputs (scripts/make_icu_fixture.py —
    tables parsed from the reference's own shipped gennorm2 source
    data lucene/analysis/icu/src/data/utr30/*.txt, the exact inputs
    its build compiles into utr30.nrm; all TestICUFoldingFilter JUnit
    vectors reproduced, engine validated per-codepoint vs unicodedata
    NFC/NFKC in tests/test_icunorm.py). Reference lucene/analysis/icu/
    .../ICUFoldingFilter.java (analysis/icunorm.py)."""
    from .analysis.icunorm import icu_fold_udf

    fix = spark.read.parquet(_ICU_FOLDS_FIXTURE).select("word")
    return fix.select(
        "word",
        icu_fold_udf(F.col("word")).alias("folded"),
    ).orderBy("word")


# ----------------------------------------------------- evaluator: math

_QTY_DOMAIN_SQL = """
  SELECT DISTINCT CAST(l_quantity AS INTEGER) AS x
  FROM lineitem WHERE l_quantity = floor(l_quantity) AND l_quantity > 0"""


@gate(
    "fn_eval_math_powlog",
    f"""
WITH d AS ({_QTY_DOMAIN_SQL})
SELECT x, round(pow(CAST(x AS DOUBLE), 1.5), 6) AS pw,
       round(ln(CAST(x AS DOUBLE)), 6) AS ln_x,
       round(log10(CAST(x AS DOUBLE)), 6) AS log10_x,
       round(sqrt(CAST(x AS DOUBLE)), 6) AS sqrt_x
FROM d ORDER BY x""",
)
def fn_eval_math_powlog(spark, sf_dir):
    """Scalar math stream evaluators — Power / NaturalLog / Log10 /
    SquareRoot (reference solr/solrj/.../io/eval/{Power,NaturalLog,
    Log10,SquareRoot}Evaluator.java), native Column exprs over the
    distinct integer quantity domain (functions/evaluators.py
    SCALAR_EVALUATORS)."""
    from .functions.evaluators import SCALAR_EVALUATORS as E

    li = load(spark, sf_dir, "lineitem")
    d = (li.filter((F.col("l_quantity") == F.floor("l_quantity"))
                   & (F.col("l_quantity") > 0))
         .select(F.col("l_quantity").cast("int").alias("x")).distinct())
    xd = F.col("x").cast("double")
    return d.select(
        "x",
        F.round(E["pow"](xd, F.lit(1.5)), 6).alias("pw"),
        F.round(E["log"](xd), 6).alias("ln_x"),
        F.round(E["log10"](xd), 6).alias("log10_x"),
        F.round(E["sqrt"](xd), 6).alias("sqrt_x"),
    ).orderBy("x")


@gate(
    "fn_eval_math_trig",
    f"""
WITH d AS ({_QTY_DOMAIN_SQL})
SELECT x, round(sin(CAST(x AS DOUBLE)), 6) AS sin_x,
       round(cos(CAST(x AS DOUBLE)), 6) AS cos_x,
       round(tan(CAST(x AS DOUBLE) / 10), 6) AS tan_x,
       round(atan(CAST(x AS DOUBLE)), 6) AS atan_x
FROM d ORDER BY x""",
)
def fn_eval_math_trig(spark, sf_dir):
    """Sine / Cosine / Tangent / ArcTangent evaluators (reference
    solr/solrj/.../io/eval/{Sine,Cosine,Tangent,ArcTangent}
    Evaluator.java)."""
    from .functions.evaluators import SCALAR_EVALUATORS as E

    li = load(spark, sf_dir, "lineitem")
    d = (li.filter((F.col("l_quantity") == F.floor("l_quantity"))
                   & (F.col("l_quantity") > 0))
         .select(F.col("l_quantity").cast("int").alias("x")).distinct())
    xd = F.col("x").cast("double")
    return d.select(
        "x",
        F.round(E["sin"](xd), 6).alias("sin_x"),
        F.round(E["cos"](xd), 6).alias("cos_x"),
        F.round(E["tan"](xd / 10), 6).alias("tan_x"),
        F.round(E["atan"](xd), 6).alias("atan_x"),
    ).orderBy("x")


@gate(
    "fn_eval_math_trig2",
    f"""
WITH d AS ({_QTY_DOMAIN_SQL})
SELECT x, round(asin(CAST(x AS DOUBLE) / 50), 6) AS asin_x,
       round(acos(CAST(x AS DOUBLE) / 50), 6) AS acos_x,
       round((exp(CAST(x AS DOUBLE) / 10) - exp(-CAST(x AS DOUBLE) / 10))
             / 2, 6) AS sinh_x,
       round((exp(CAST(x AS DOUBLE) / 10) - exp(-CAST(x AS DOUBLE) / 10))
             / (exp(CAST(x AS DOUBLE) / 10)
                + exp(-CAST(x AS DOUBLE) / 10)), 6) AS tanh_x
FROM d WHERE x <= 50 ORDER BY x""",
)
def fn_eval_math_trig2(spark, sf_dir):
    """ArcSine / ArcCosine / HyperbolicSine / HyperbolicTangent
    evaluators (reference solr/solrj/.../io/eval/{ArcSine,ArcCosine,
    HyperbolicSine,HyperbolicTangent}Evaluator.java). The oracle
    recomputes the hyperbolics from exp() — the defining identity — so
    the comparison does not assume a shared libm sinh."""
    from .functions.evaluators import SCALAR_EVALUATORS as E

    li = load(spark, sf_dir, "lineitem")
    d = (li.filter((F.col("l_quantity") == F.floor("l_quantity"))
                   & (F.col("l_quantity") > 0)
                   & (F.col("l_quantity") <= 50))
         .select(F.col("l_quantity").cast("int").alias("x")).distinct())
    xd = F.col("x").cast("double")
    return d.select(
        "x",
        F.round(E["asin"](xd / 50), 6).alias("asin_x"),
        F.round(E["acos"](xd / 50), 6).alias("acos_x"),
        F.round(E["sinh"](xd / 10), 6).alias("sinh_x"),
        F.round(E["tanh"](xd / 10), 6).alias("tanh_x"),
    ).orderBy("x")


@gate(
    "fn_eval_math_int",
    f"""
WITH d AS ({_QTY_DOMAIN_SQL})
SELECT x, CAST(factorial(x % 10) AS DOUBLE) AS fact_x,
       round(CAST(factorial(10) AS DOUBLE)
             / (factorial(x % 10) * factorial(10 - (x % 10))), 6) AS binom_x,
       CAST(x % 7 AS DOUBLE) AS mod_x,
       round(cbrt(CAST(x AS DOUBLE)), 6) AS cbrt_x
FROM d ORDER BY x""",
)
def fn_eval_math_int(spark, sf_dir):
    """Factorial / BinomialCoefficient / Modulo / CubedRoot evaluators
    (reference solr/solrj/.../io/eval/{Factorial,BinomialCoefficient,
    Modulo,CubedRoot}Evaluator.java)."""
    from .functions.evaluators import SCALAR_EVALUATORS as E

    li = load(spark, sf_dir, "lineitem")
    d = (li.filter((F.col("l_quantity") == F.floor("l_quantity"))
                   & (F.col("l_quantity") > 0))
         .select(F.col("l_quantity").cast("int").alias("x")).distinct())
    x = F.col("x")
    return d.select(
        "x",
        E["factorial"](x % 10).cast("double").alias("fact_x"),
        F.round(E["binomialCoefficient"](F.lit(10), x % 10), 6)
         .alias("binom_x"),
        E["mod"](x, F.lit(7)).cast("double").alias("mod_x"),
        F.round(E["cbrt"](x.cast("double")), 6).alias("cbrt_x"),
    ).orderBy("x")


# --------------------------------------------------- evaluator: arrays

_EMB_PAIR_SQL = """
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id < 64"""


@gate(
    "fn_eval_arrays_norms",
    f"""
WITH idx AS (SELECT unnest(range(1, 65)) AS i),
p AS ({_EMB_PAIR_SQL}),
t AS (SELECT vec_a, vec_b, CAST(ea[i] AS DOUBLE) AS xa,
             CAST(eb[i] AS DOUBLE) AS xb
      FROM p, idx)
SELECT vec_a, vec_b,
  round(sum(xa * xb), 6) AS dot_ab,
  round(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))), 6)
    AS cos_sim,
  round(sum(abs(xa)), 6) AS l1_a,
  round(max(abs(xa)), 6) AS linf_a
FROM t GROUP BY vec_a, vec_b ORDER BY vec_a""",
)
def fn_eval_arrays_norms(spark, sf_dir):
    """DotProduct / CosineSimilarity / L1Norm / LInfNorm evaluators
    (reference solr/solrj/.../io/eval/{DotProduct,CosineSimilarity,
    L1Norm,LInfNorm}Evaluator.java) as zip_with/aggregate Column exprs
    (functions/evaluators.py)."""
    from .functions.evaluators import (
        cosine_similarity, dot_product, l1_norm, linf_norm,
    )

    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("ea_raw")) \
        .filter(F.col("vec_a") < 64)
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("eb_raw"))
    j = a.join(b, F.col("vec_b") == F.col("vec_a") + 1)
    ea = F.transform(F.col("ea_raw"), lambda v: v.cast("double"))
    eb = F.transform(F.col("eb_raw"), lambda v: v.cast("double"))
    return j.select(
        "vec_a", "vec_b",
        F.round(dot_product(ea, eb), 6).alias("dot_ab"),
        F.round(cosine_similarity(ea, eb), 6).alias("cos_sim"),
        F.round(l1_norm(ea), 6).alias("l1_a"),
        F.round(linf_norm(ea), 6).alias("linf_a"),
    ).orderBy("vec_a")


@gate(
    "fn_eval_arrays_scale",
    """
WITH idx AS (SELECT unnest(range(1, 65)) AS i),
t AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, idx WHERE vec_id < 64),
s AS (SELECT vec_id, avg(x) AS mu,
             count(*) AS n, min(x) AS mn, max(x) AS mx,
             sqrt(sum(x * x)) AS l2, sum(x) AS gs
      FROM t GROUP BY vec_id),
sd AS (SELECT t.vec_id,
              sqrt(sum((t.x - s.mu) * (t.x - s.mu)) / (s.n - 1)) AS sdev
       FROM t JOIN s USING (vec_id) GROUP BY t.vec_id, s.n),
f AS (SELECT vec_id, x FROM t WHERE i = 1)
SELECT f.vec_id,
  round((f.x - s.mu) / sd.sdev, 6) AS z_first,
  round((f.x - s.mn) / (s.mx - s.mn), 6) AS mm_first,
  round(f.x / s.l2, 6) AS unit_first,
  round(s.gs, 6) AS grand_sum
FROM f JOIN s USING (vec_id) JOIN sd USING (vec_id)
ORDER BY f.vec_id""",
)
def fn_eval_arrays_scale(spark, sf_dir):
    """Normalize (z-score, sample sd) / MinMaxScale / Unit / GrandSum
    evaluators (reference solr/solrj/.../io/eval/{Normalize,MinMaxScale,
    Unit,GrandSum}Evaluator.java), probed at the first element so the
    hash pins the whole transform chain."""
    from .functions.evaluators import (
        grand_sum, min_max_scale, normalize_v, unitize,
    )

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    arr = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    return emb.select(
        "vec_id",
        F.round(F.element_at(normalize_v(arr), 1), 6).alias("z_first"),
        F.round(F.element_at(min_max_scale(arr), 1), 6).alias("mm_first"),
        F.round(F.element_at(unitize(arr), 1), 6).alias("unit_first"),
        F.round(grand_sum(arr), 6).alias("grand_sum"),
    ).orderBy("vec_id")


@gate(
    "fn_eval_arrays_ops",
    f"""
WITH idx AS (SELECT unnest(range(1, 65)) AS i),
p AS ({_EMB_PAIR_SQL}),
t AS (SELECT vec_a, vec_b, i, CAST(ea[i] AS DOUBLE) AS xa,
             CAST(eb[i] AS DOUBLE) AS xb
      FROM p, idx)
SELECT vec_a, vec_b,
  round(sum(xa + xb), 6) AS ebe_add_sum,
  round(sum(xa * xb), 6) AS ebe_mul_sum,
  round(sum(xa + 2.5), 6) AS scalar_add_sum,
  round(sum(CASE WHEN i > 8 THEN xa ELSE 0 END), 6) AS lshift_sum
FROM t GROUP BY vec_a, vec_b ORDER BY vec_a""",
)
def fn_eval_arrays_ops(spark, sf_dir):
    """EBEAdd / EBEMultiply / ScalarAdd / LeftShift evaluators
    (reference solr/solrj/.../io/eval/{EBEAdd,EBEMultiply,ScalarAdd,
    LeftShift}Evaluator.java), hashed through their sums."""
    from .functions.evaluators import (
        ebe_add, ebe_multiply, left_shift, scalar_add, sum_v,
    )

    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("ea_raw")) \
        .filter(F.col("vec_a") < 64)
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("eb_raw"))
    j = a.join(b, F.col("vec_b") == F.col("vec_a") + 1)
    ea = F.transform(F.col("ea_raw"), lambda v: v.cast("double"))
    eb = F.transform(F.col("eb_raw"), lambda v: v.cast("double"))
    return j.select(
        "vec_a", "vec_b",
        F.round(sum_v(ebe_add(ea, eb)), 6).alias("ebe_add_sum"),
        F.round(sum_v(ebe_multiply(ea, eb)), 6).alias("ebe_mul_sum"),
        F.round(sum_v(scalar_add(2.5, ea)), 6).alias("scalar_add_sum"),
        F.round(sum_v(left_shift(ea, 8)), 6).alias("lshift_sum"),
    ).orderBy("vec_a")


# ------------------------------------------------- evaluator: temporal

@gate(
    "fn_eval_temporal_a",
    """
WITH d AS (SELECT DISTINCT o_orderdate FROM orders WHERE o_orderkey <= 8192)
SELECT CAST(o_orderdate AS VARCHAR) AS d,
  CAST(year(o_orderdate) AS DOUBLE) AS yr,
  CAST(month(o_orderdate) AS DOUBLE) AS mo,
  CAST(day(o_orderdate) AS DOUBLE) AS dy,
  CAST(date_diff('day', DATE '1970-01-01', o_orderdate) * 86400
       AS DOUBLE) AS ep
FROM d ORDER BY d""",
)
def fn_eval_temporal_a(spark, sf_dir):
    """Temporal evaluators year / month / day / epoch (reference
    solr/solrj/.../io/eval/TemporalEvaluator{Year,Month,Day,Epoch}
    .java; epoch is seconds at UTC midnight, TZ-free — the reference
    returns the same instant in millis)."""
    from .functions.evaluators import TEMPORAL_EVALUATORS as T

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 8192)
    d = o.select("o_orderdate").distinct()
    dt = F.col("o_orderdate")
    return d.select(
        dt.cast("string").alias("d"),
        T["year"](dt).cast("double").alias("yr"),
        T["month"](dt).cast("double").alias("mo"),
        T["day"](dt).cast("double").alias("dy"),
        T["epoch"](dt).cast("double").alias("ep"),
    ).orderBy("d")


@gate(
    "fn_eval_temporal_b",
    """
WITH d AS (SELECT DISTINCT o_orderdate FROM orders WHERE o_orderkey <= 8192)
SELECT CAST(o_orderdate AS VARCHAR) AS d,
  CAST(quarter(o_orderdate) AS DOUBLE) AS qtr,
  CAST(weekofyear(o_orderdate) AS DOUBLE) AS wk,
  CAST(dayofyear(o_orderdate) AS DOUBLE) AS doy,
  CAST(date_diff('day', date_trunc('quarter', o_orderdate), o_orderdate)
       + 1 AS DOUBLE) AS doq
FROM d ORDER BY d""",
)
def fn_eval_temporal_b(spark, sf_dir):
    """Temporal evaluators quarter / week (ISO) / dayOfYear /
    dayOfQuarter (reference solr/solrj/.../io/eval/TemporalEvaluator
    {Quarter,Week,DayOfYear,DayOfQuarter}.java)."""
    from .functions.evaluators import TEMPORAL_EVALUATORS as T

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 8192)
    d = o.select("o_orderdate").distinct()
    dt = F.col("o_orderdate")
    return d.select(
        dt.cast("string").alias("d"),
        T["quarter"](dt).cast("double").alias("qtr"),
        T["week"](dt).cast("double").alias("wk"),
        T["dayOfYear"](dt).cast("double").alias("doy"),
        T["dayOfQuarter"](dt).cast("double").alias("doq"),
    ).orderBy("d")


@gate(
    "fn_eval_matrix",
    """
WITH t AS (
  SELECT CAST(vec_id // 4 AS BIGINT) AS mid, vec_id % 4 AS r, i,
         CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
  WHERE vec_id < 64),
agg AS (
  SELECT mid,
    round(sum(x * x), 6) AS gram_trace,
    round(sum(CASE WHEN r = 0 THEN x END), 6) AS row0_sum,
    round(sum(CASE WHEN i = 1 THEN x END), 6) AS col0_sum
  FROM t GROUP BY mid),
mm AS (
  SELECT a.mid, round(sum(a.x * b.x), 6) AS mm_01
  FROM t a JOIN t b ON a.mid = b.mid AND a.i = b.i
       AND a.r = 0 AND b.r = 1
  GROUP BY a.mid)
SELECT agg.mid, gram_trace, row0_sum, col0_sum, mm_01
FROM agg JOIN mm ON agg.mid = mm.mid ORDER BY agg.mid""",
)
def fn_eval_matrix(spark, sf_dir):
    """Matrix evaluator family — Matrix / Transpose / MatrixMultiply /
    SumRows / SumColumns / RowAt / RowCount / ColumnCount (reference
    solr/solrj/.../io/eval/{Matrix,Transpose,MatrixMultiply,SumRows,
    SumColumns,RowAt,RowCount,ColumnCount}Evaluator.java): each
    4×64 matrix is assembled from 4 consecutive embeddings and probed
    through the nested-HOF ops — the Gram-matrix trace (Σ diag of
    M·Mᵀ), sumRows[0], sumColumns[0], and M·Mᵀ[0][1] (row0·row1, which
    exercises transpose+multiply end-to-end). All values recomputed by
    the oracle from the raw elements."""
    from .functions.evaluators import (
        matrix_mult, row_at, sum_columns, sum_rows, sum_v, transpose_m,
    )

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    m_df = (
        emb.groupBy((F.col("vec_id") / 4).cast("long").alias("mid"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(
                        F.col("vec_id").alias("r"),
                        F.col("embedding").alias("e"),
                    ))
                ),
                lambda s: F.transform(s.e, lambda v: v.cast("double")),
            ).alias("m")
        )
    )
    m = F.col("m")
    gram = matrix_mult(m, transpose_m(m))
    trace = sum_v(F.transform(
        F.sequence(F.lit(1), F.size(gram)),
        lambda i: F.element_at(F.element_at(gram, i), i),
    ))
    return m_df.select(
        "mid",
        F.round(trace, 6).alias("gram_trace"),
        F.round(F.element_at(sum_rows(m), 1), 6).alias("row0_sum"),
        F.round(F.element_at(sum_columns(m), 1), 6).alias("col0_sum"),
        F.round(F.element_at(row_at(gram, 0), 2), 6).alias("mm_01"),
    ).orderBy("mid")


@gate(
    "fn_eval_signal",
    """
WITH it AS (
  SELECT l_orderkey AS o, CAST(l_quantity AS DOUBLE) AS q,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity) AS i,
         count(*) OVER (PARTITION BY l_orderkey) AS n
  FROM lineitem WHERE l_orderkey <= 2048),
ok AS (SELECT DISTINCT o, n FROM it WHERE n >= 4),
kr AS (SELECT unnest(range(1, 4)) AS j),
-- kernel b = [3,1,2]; find_delay convolves with reverse(b) = [2,1,3]
conv AS (
  SELECT it.o, it.i + kr.j - 1 AS k,
         sum(it.q * CASE kr.j WHEN 1 THEN 2.0 WHEN 2 THEN 1.0
                              ELSE 3.0 END) AS cv
  FROM it JOIN ok USING (o), kr
  GROUP BY it.o, it.i + kr.j - 1),
best AS (
  SELECT o, k FROM (
    SELECT o, k, row_number() OVER (PARTITION BY o
                                    ORDER BY abs(cv) DESC, k) AS rn
    FROM conv) WHERE rn = 1),
sconv AS (
  SELECT it.o, it.i + kr.j - 1 AS k,
         sum(it.q * CASE kr.j WHEN 1 THEN 0.25 WHEN 2 THEN 0.5
                              ELSE 0.25 END) AS cv
  FROM it JOIN ok USING (o), kr
  GROUP BY it.o, it.i + kr.j - 1),
modes AS (
  SELECT o, v, count(*) AS c
  FROM (SELECT o, round(q) AS v FROM it JOIN ok USING (o)) GROUP BY o, v),
mode1 AS (
  SELECT m.o, min(m.v) AS mv
  FROM modes m JOIN (SELECT o, max(c) AS mc FROM modes GROUP BY o) x
    ON m.o = x.o AND m.c = x.mc
  GROUP BY m.o)
SELECT ok.o AS o_orderkey, CAST(ok.n AS BIGINT) AS n,
  round((SELECT cv FROM sconv WHERE sconv.o = ok.o AND k = 3), 6) AS conv3,
  round((SELECT sum(cv) FROM sconv WHERE sconv.o = ok.o), 6) AS conv_sum,
  CAST(best.k - 3 AS DOUBLE) AS delay,
  round(mode1.mv, 6) AS mode_first
FROM ok JOIN best ON best.o = ok.o JOIN mode1 ON mode1.o = ok.o
ORDER BY o_orderkey""",
)
def fn_eval_signal(spark, sf_dir):
    """Signal/frequency evaluator family — Convolution / FindDelay /
    Mode (reference solr/solrj/.../io/eval/{Convolution,FindDelay,Mode}
    Evaluator.java): per-order quantity series convolved with a
    smoothing kernel (probe at k=3 + total mass), cross-correlation
    delay vs the non-palindromic kernel [3,1,2] (first-max-wins exactly
    as the reference's strict-> scan), and the ascending multi-mode's
    first value. All nested-HOF Column exprs
    (functions/evaluators.py convolve_v/find_delay/mode_v)."""
    from .functions.evaluators import (
        convolve_v, find_delay, mode_v, sum_v,
    )

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2048)
    arr_df = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").cast("double").alias("q"),
                    ))
                ),
                lambda s: s.q,
            ).alias("qty")
        )
        .filter(F.size("qty") >= 4)
    )
    qty = F.col("qty")
    smooth = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.25))
    kernel = F.array(F.lit(3.0), F.lit(1.0), F.lit(2.0))
    sc = convolve_v(qty, smooth)
    return arr_df.select(
        "o_orderkey",
        F.size(qty).cast("long").alias("n"),
        F.round(F.element_at(sc, 3), 6).alias("conv3"),
        F.round(sum_v(sc), 6).alias("conv_sum"),
        find_delay(qty, kernel).alias("delay"),
        F.round(F.element_at(
            mode_v(F.transform(qty, lambda v: F.round(v))), 1), 6)
         .alias("mode_first"),
    ).orderBy("o_orderkey")


_DISTRIB_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "distrib_probs.parquet",
)


@gate(
    "fn_eval_distrib",
    f"""
WITH d AS (SELECT DISTINCT CAST(l_quantity AS INTEGER) AS x
           FROM lineitem
           WHERE l_quantity = floor(l_quantity)
             AND l_quantity BETWEEN 1 AND 50)
SELECT d.x, round(f.norm_cdf, 6) AS norm_cdf,
       round(f.binom_pmf, 6) AS binom_pmf,
       round(f.poisson_pmf, 6) AS poisson_pmf,
       round(f.geom_cdf, 6) AS geom_cdf
FROM d JOIN read_parquet('{_DISTRIB_FIXTURE}') f ON f.x = d.x
ORDER BY d.x""",
)
def fn_eval_distrib(spark, sf_dir):
    """Distribution evaluator family — normalDistribution /
    binomialDistribution / poissonDistribution / geometricDistribution
    + cumulativeProbability/probability (reference solr/solrj/.../io/
    eval/{Normal,Binomial,Poisson,Geometric}DistributionEvaluator.java,
    CumulativeProbabilityEvaluator.java, ProbabilityEvaluator.java —
    thin wrappers over commons-math3): computed LIVE by the rebuild's
    Column/Arrow implementations; the oracle reads values frozen from
    the REAL commons-math3 library running in Spark's own JVM
    (scripts/make_distrib_fixture.py) — non-circular, compared at 6dp."""
    from .functions.evaluators import (
        binomial_pmf, geometric_cdf, normal_cdf, poisson_pmf,
    )

    li = load(spark, sf_dir, "lineitem")
    d = (li.filter((F.col("l_quantity") == F.floor("l_quantity"))
                   & (F.col("l_quantity") >= 1)
                   & (F.col("l_quantity") <= 50))
         .select(F.col("l_quantity").cast("int").alias("x")).distinct())
    x = F.col("x")
    return d.select(
        "x",
        F.round(normal_cdf(x.cast("double"), 25.0, 10.0), 6)
         .alias("norm_cdf"),
        F.round(binomial_pmf(F.lit(50), 0.3, x), 6).alias("binom_pmf"),
        F.round(poisson_pmf(4.0, x % 15), 6).alias("poisson_pmf"),
        F.round(geometric_cdf(0.25, x % 12), 6).alias("geom_cdf"),
    ).orderBy("x")


@gate(
    "fn_eval_sliding",
    """
WITH it AS (
  SELECT l_orderkey AS o, CAST(l_quantity AS DOUBLE) AS q,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity) AS i,
         count(*) OVER (PARTITION BY l_orderkey) AS n
  FROM lineitem WHERE l_orderkey <= 2048),
ok AS (SELECT DISTINCT o, n FROM it WHERE n >= 4),
-- EMA, window 3, default alpha = 2/(3+1) = 0.5 (exact binary):
-- seed e0 = mean(first 3); e_last = 0.5^(n-3)·e0 + Σ_{i>3} 0.5^(n-i+1)·q_i
e0 AS (SELECT o, avg(q) AS seed FROM it WHERE i <= 3 GROUP BY o),
ema AS (
  SELECT it.o,
         sum(it.q * power(0.5, it.n - it.i + 1)) AS tail_part
  FROM it JOIN ok USING (o) WHERE it.i > 3 GROUP BY it.o),
last3 AS (
  SELECT it.o, it.q FROM it JOIN ok USING (o) WHERE it.i > it.n - 3),
l3 AS (
  SELECT o, sum(q) AS s, min(q) AS mn, max(q) AS mx, avg(q) AS mu
  FROM last3 GROUP BY o),
mad AS (
  SELECT last3.o, avg(abs(last3.q - l3.mu)) AS v FROM last3
  JOIN l3 ON l3.o = last3.o GROUP BY last3.o)
SELECT ok.o AS o_orderkey, CAST(ok.n AS BIGINT) AS n,
  round(power(0.5, ok.n - 3) * e0.seed + coalesce(ema.tail_part, 0), 6)
    AS ema_last,
  round(e0.seed, 6) AS ema_first,
  round(l3.s - l3.mn - l3.mx, 6) AS movmed_last,
  round(mad.v, 6) AS movmad_last
FROM ok JOIN e0 ON e0.o = ok.o
LEFT JOIN ema ON ema.o = ok.o
JOIN l3 ON l3.o = ok.o JOIN mad ON mad.o = ok.o
ORDER BY o_orderkey""",
)
def fn_eval_sliding(spark, sf_dir):
    """Sliding-window evaluator family — exponential moving average /
    moving median / moving MAD (reference solr/solrj/.../io/eval/
    {ExponentialMovingAverage,MovingMedian,MovingMAD}Evaluator.java):
    window 3 over per-order quantity series; EMA uses the reference's
    default α = 2/(w+1) = 0.5 (exact in binary, so the oracle's
    closed-form power expansion matches the recurrence bit-for-bit at
    6dp), moving median is the commons-math LEGACY percentile (for w=3
    the middle value = sum−min−max in the oracle), moving MAD is mean
    absolute deviation from the window mean."""
    from .functions.evaluators import (
        exp_moving_avg, moving_mad, moving_median,
    )

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2048)
    arr_df = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").cast("double").alias("q"),
                    ))
                ),
                lambda s: s.q,
            ).alias("qty")
        )
        .filter(F.size("qty") >= 4)
    )
    qty = F.col("qty")
    ema = exp_moving_avg(qty, 3)
    return arr_df.select(
        "o_orderkey",
        F.size(qty).cast("long").alias("n"),
        F.round(F.element_at(ema, -1), 6).alias("ema_last"),
        F.round(F.element_at(ema, 1), 6).alias("ema_first"),
        F.round(F.element_at(moving_median(qty, 3), -1), 6)
         .alias("movmed_last"),
        F.round(F.element_at(moving_mad(qty, 3), -1), 6)
         .alias("movmad_last"),
    ).orderBy("o_orderkey")


@gate(
    "fn_eval_distrib2",
    f"""
WITH d AS (SELECT DISTINCT CAST(l_quantity AS INTEGER) AS x
           FROM lineitem
           WHERE l_quantity = floor(l_quantity)
             AND l_quantity BETWEEN 1 AND 50)
SELECT d.x, round(f.weibull_cdf, 6) AS weibull_cdf,
       round(f.lognorm_cdf, 6) AS lognorm_cdf,
       round(f.zipf_pmf, 6) AS zipf_pmf,
       round(f.tri_cdf, 6) AS tri_cdf
FROM d JOIN read_parquet('{_DISTRIB_FIXTURE}') f ON f.x = d.x
ORDER BY d.x""",
)
def fn_eval_distrib2(spark, sf_dir):
    """Distribution evaluator family, part 2 — weibullDistribution /
    logNormalDistribution / zipFDistribution / triangularDistribution
    (reference solr/solrj/.../io/eval/{Weibull,LogNormal,ZipF,
    Triangular}DistributionEvaluator.java): LIVE closed-form Column
    exprs (Φ via the Arrow erf UDF for lognormal) vs values frozen from
    commons-math3 in Spark's own JVM, at 6dp."""
    from .functions.evaluators import (
        lognormal_cdf, triangular_cdf, weibull_cdf, zipf_pmf,
    )

    li = load(spark, sf_dir, "lineitem")
    d = (li.filter((F.col("l_quantity") == F.floor("l_quantity"))
                   & (F.col("l_quantity") >= 1)
                   & (F.col("l_quantity") <= 50))
         .select(F.col("l_quantity").cast("int").alias("x")).distinct())
    x = F.col("x").cast("double")
    return d.select(
        "x",
        F.round(weibull_cdf(1.5, 20.0, x), 6).alias("weibull_cdf"),
        F.round(lognormal_cdf(3.0, 0.5, x), 6).alias("lognorm_cdf"),
        F.round(zipf_pmf(50, 1.2, F.col("x")), 6).alias("zipf_pmf"),
        F.round(triangular_cdf(0.0, 20.0, 55.0, x), 6).alias("tri_cdf"),
    ).orderBy("x")


_MORE_FILTERS_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "more_filters.parquet",
)

_MORE_FILTERS_SQL = f"""
SELECT filter || ':' || input_s AS filt_input, output_s
FROM read_parquet('{_MORE_FILTERS_FIXTURE}')
ORDER BY filt_input"""


@gate("fts_more_filters", _MORE_FILTERS_SQL)
def fts_more_filters(spark, sf_dir):
    """TokenFilter family completion — Elision / Apostrophe /
    TurkishLowerCase / ScandinavianNormalization / ScandinavianFolding
    / CJKWidth / DecimalDigit / Capitalization / Fingerprint /
    HyphenatedWords / Truncate / ReverseString / UpperCase applied LIVE
    by the Arrow dispatcher over the golden vocabulary; the oracle
    reads the frozen outputs (scripts/make_morefilters_fixture.py).
    Semantics pinned by the reference JUnit vectors
    (tests/test_morefilters.py). Reference lucene/analysis/common/.../
    {{util/ElisionFilter, tr/{{Apostrophe,TurkishLowerCase}}Filter,
    miscellaneous/{{ScandinavianNormalization,ScandinavianFolding,
    Capitalization,Fingerprint,HyphenatedWords,TruncateToken}}Filter,
    cjk/CJKWidthFilter, core/{{DecimalDigit,UpperCase}}Filter,
    reverse/ReverseStringFilter}}.java (analysis/morefilters.py)."""
    from .analysis.morefilters import more_filter_udf

    fix = spark.read.parquet(_MORE_FILTERS_FIXTURE).select(
        "filter", "input_s")
    toks = F.split(F.col("input_s"), "\x1f")
    return fix.select(
        F.concat_ws(":", "filter", "input_s").alias("filt_input"),
        F.concat_ws(
            "\x1f", more_filter_udf(F.col("filter"), toks)
        ).alias("output_s"),
    ).orderBy("filt_input")


_HYP2_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "hyp_tests2.parquet",
)


@gate(
    "fn_eval_tests2",
    f"""
SELECT pair_id, round(mw_u, 6) AS mw_u, round(mw_p, 6) AS mw_p,
       round(ks_d, 6) AS ks_d
FROM read_parquet('{_HYP2_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_tests2(spark, sf_dir):
    """Two-sample inference evaluators — mannWhitney (U statistic +
    asymptotic p via tie-averaged natural ranks and the normal
    approximation) and kolmogorovSmirnov D (reference solr/solrj/.../
    io/eval/{{MannWhitneyU,KolmogorovSmirnov}}Evaluator.java, thin
    wrappers over commons-math3): computed LIVE as higher-order Column
    exprs over the fixture's sample pairs; the oracle reads values
    frozen from the REAL commons-math3 in Spark's JVM
    (scripts/make_hyptests_fixture.py), at 6dp."""
    from .functions.evaluators import (
        ks_statistic, mann_whitney_p_udf, mann_whitney_u,
    )

    fix = spark.read.parquet(_HYP2_FIXTURE).select("pair_id", "xs", "ys")
    a, b = F.col("xs"), F.col("ys")
    return fix.select(
        "pair_id",
        F.round(mann_whitney_u(a, b), 6).alias("mw_u"),
        F.round(mann_whitney_p_udf()(a, b), 6).alias("mw_p"),
        F.round(ks_statistic(a, b), 6).alias("ks_d"),
    ).orderBy("pair_id")


_POLYFIT_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "polyfit.parquet",
)


@gate(
    "fn_eval_polyfit",
    f"""
SELECT pair_id,
  round(preds[1], 6) AS p_first,
  round(preds[len(preds)], 6) AS p_last,
  round(list_aggregate(list_transform(preds, v -> round(v, 9)),
                       'sum'), 6) AS p_sum,
  CAST(len(preds) AS DOUBLE) AS n
FROM read_parquet('{_POLYFIT_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_polyfit(spark, sf_dir):
    """Curve-fitting evaluator — polyfit (reference solr/solrj/.../io/
    eval/PolyFitEvaluator.java → commons-math PolynomialCurveFitter,
    degree 3, x = 0..n−1, returns the fitted predictions): computed
    LIVE by the Arrow numpy-lstsq UDF over the fixture's series; the
    oracle reads predictions frozen from the REAL commons-math3 fitter
    in Spark's JVM (scripts/make_polyfit_fixture.py; the two solvers
    agree < 1e-13, asserted at fixture build). Sum compared over
    9dp-rounded elements so the order of addition cannot bite."""
    from .functions.evaluators import polyfit_udf

    fix = spark.read.parquet(_POLYFIT_FIXTURE).select("pair_id", "ys")
    preds = polyfit_udf()(F.col("ys"))
    rounded = F.transform(preds, lambda v: F.round(v, 9))
    return fix.select(
        "pair_id",
        F.round(F.element_at(preds, 1), 6).alias("p_first"),
        F.round(F.element_at(preds, -1), 6).alias("p_last"),
        F.round(F.aggregate(rounded, F.lit(0.0), lambda a, v: a + v), 6)
         .alias("p_sum"),
        F.size(preds).cast("double").alias("n"),
    ).orderBy("pair_id")


_SPLINE_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "spline_chain.parquet",
)


@gate(
    "fn_eval_spline",
    f"""
SELECT pair_id,
  round(mids[1], 6) AS mid_first,
  round(derivs[1], 6) AS d_first,
  round(derivs[len(derivs)], 6) AS d_last,
  round(integral, 6) AS integral
FROM read_parquet('{_SPLINE_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_spline(spark, sf_dir):
    """Spline evaluator chain — spline / derivative / integrate
    (reference solr/solrj/.../io/eval/{{Spline,Derivative,Integrate}}
    Evaluator.java → commons-math SplineInterpolator natural cubic +
    spline derivative + RombergIntegrator): the rebuild's numpy
    natural-cubic solve runs LIVE in the Arrow UDF; the oracle reads
    values frozen from the REAL commons-math3 (tight-tolerance Romberg
    — the reference's default integrator only guarantees 1e-6 RELATIVE
    accuracy around this converged value; spline+derivative agree to
    1e-11, asserted by scripts/make_spline_fixture.py)."""
    from .functions.evaluators import spline_chain_udf

    fix = spark.read.parquet(_SPLINE_FIXTURE).select("pair_id", "ys")
    out = spline_chain_udf()(F.col("ys")).alias("s")
    base = fix.select("pair_id", out)
    return base.select(
        "pair_id",
        F.round(F.element_at(F.col("s.mid"), 1), 6).alias("mid_first"),
        F.round(F.element_at(F.col("s.deriv"), 1), 6).alias("d_first"),
        F.round(F.element_at(F.col("s.deriv"), -1), 6).alias("d_last"),
        F.round(F.col("s.integral"), 6).alias("integral"),
    ).orderBy("pair_id")


_LOESS_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "loess.parquet",
)


@gate(
    "fn_eval_loess",
    f"""
SELECT pair_id,
  round(smoothed[1], 6) AS s_first,
  round(smoothed[len(smoothed)], 6) AS s_last,
  round(list_aggregate(list_transform(smoothed, v -> round(v, 9)),
                       'sum'), 6) AS s_sum,
  CAST(len(smoothed) AS DOUBLE) AS n
FROM read_parquet('{_LOESS_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_loess(spark, sf_dir):
    """LOESS smoother evaluator (reference solr/solrj/.../io/eval/
    LoessEvaluator.java → commons-math LoessInterpolator, bandwidth
    0.25, robustIterations 2): the rebuild's tricube local-linear +
    biweight-robustness loop runs LIVE in the Arrow UDF; the oracle
    reads the REAL library's output frozen from Spark's JVM
    (scripts/make_loess_fixture.py, agreement ~1e-13)."""
    from .functions.evaluators import loess_udf

    fix = spark.read.parquet(_LOESS_FIXTURE).select("pair_id", "ys")
    sm = loess_udf()(F.col("ys"))
    rounded = F.transform(sm, lambda v: F.round(v, 9))
    return fix.select(
        "pair_id",
        F.round(F.element_at(sm, 1), 6).alias("s_first"),
        F.round(F.element_at(sm, -1), 6).alias("s_last"),
        F.round(F.aggregate(rounded, F.lit(0.0), lambda a, v: a + v), 6)
         .alias("s_sum"),
        F.size(sm).cast("double").alias("n"),
    ).orderBy("pair_id")


_TRANSFORM_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "transform_chain.parquet",
)


@gate(
    "fn_eval_transform",
    f"""
SELECT pair_id,
  round(fft_re[2], 6) AS re2,
  round(fft_im[2], 6) AS im2,
  round(list_aggregate(list_transform(fft_re, v -> round(abs(v), 9)),
                       'sum'), 6) AS re_mass,
  round(akima_mid[1], 6) AS ak_first
FROM read_parquet('{_TRANSFORM_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_transform(spark, sf_dir):
    """Transform evaluators — fft and akima (reference solr/solrj/.../
    io/eval/{{FFT,Akima}}Evaluator.java → commons-math
    FastFourierTransformer STANDARD + AkimaSplineInterpolator):
    computed LIVE by the Arrow numpy-fft / Akima-Hermite UDFs; the
    oracle reads the REAL library's outputs frozen from Spark's JVM
    (scripts/make_transform_fixture.py, agreement < 1e-13)."""
    from .functions.evaluators import akima_udf, fft_udf

    fix = spark.read.parquet(_TRANSFORM_FIXTURE).select("pair_id", "ys")
    z = fft_udf()(F.col("ys")).alias("z")
    base = fix.select("pair_id", z, akima_udf()(F.col("ys")).alias("ak"))
    re = F.col("z.re")
    return base.select(
        "pair_id",
        F.round(F.element_at(re, 2), 6).alias("re2"),
        F.round(F.element_at(F.col("z.im"), 2), 6).alias("im2"),
        F.round(F.aggregate(
            F.transform(re, lambda v: F.round(F.abs(v), 9)),
            F.lit(0.0), lambda a, v: a + v), 6).alias("re_mass"),
        F.round(F.element_at(F.col("ak"), 1), 6).alias("ak_first"),
    ).orderBy("pair_id")


_GEOMETRY_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "geometry.parquet",
)


@gate(
    "fn_eval_geometry",
    f"""
SELECT pair_id,
  round(CAST(hull_n AS DOUBLE) + hull_area, 6) AS hull_sig,
  round(bary_x, 6) AS bary_x,
  round(disk_r, 6) AS disk_r,
  round(disk_cx + disk_cy, 6) AS disk_c
FROM read_parquet('{_GEOMETRY_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_geometry(spark, sf_dir):
    """Computational-geometry evaluators — convexHull (+ getVertices /
    getArea / getBaryCenter) and enclosingDisk (+ getCenter /
    getRadius) (reference solr/solrj/.../io/eval/{{ConvexHull,
    EnclosingDisk,GetVertices,GetArea,GetBaryCenter,GetCenter,
    GetRadius}}Evaluator.java → commons-math MonotoneChain /
    WelzlEncloser): the rebuild's monotone-chain hull + Welzl disk run
    LIVE in the Arrow UDF; the oracle reads the REAL library's values
    (unique properties of each point set) frozen from Spark's JVM
    (scripts/make_geometry_fixture.py, agreement 1e-13)."""
    from .functions.evaluators import geometry_udf

    fix = spark.read.parquet(_GEOMETRY_FIXTURE).select(
        "pair_id", "xs", "ys")
    g = geometry_udf()(F.col("xs"), F.col("ys")).alias("g")
    base = fix.select("pair_id", g)
    return base.select(
        "pair_id",
        F.round(F.col("g.hull_n") + F.col("g.hull_area"), 6)
         .alias("hull_sig"),
        F.round(F.col("g.bary_x"), 6).alias("bary_x"),
        F.round(F.col("g.disk_r"), 6).alias("disk_r"),
        F.round(F.col("g.disk_cx") + F.col("g.disk_cy"), 6)
         .alias("disk_c"),
    ).orderBy("pair_id")


_ANOVA_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "anova_ols.parquet",
)

_DISTRIB3_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "distrib3.parquet",
)


@gate(
    "fn_eval_anova",
    f"""
SELECT pair_id, round(f_ratio, 6) AS f_ratio, round(p_value, 6) AS p_value,
       round(emd, 6) AS emd
FROM read_parquet('{_ANOVA_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_anova(spark, sf_dir):
    """anova + earthMovers evaluators (reference solr/solrj/.../io/eval/
    {{Anova,EarthMovers}}Evaluator.java, thin wrappers over
    commons-math3 OneWayAnova / ml.distance.EarthMoversDistance):
    F-ratio and p computed LIVE by the Arrow anova UDF (p via the
    incomplete-beta F survival), EMD as one aggregate fold over the
    zipped difference array; the oracle reads values frozen from the
    REAL commons-math3 in Spark's JVM
    (scripts/make_anova_fixture.py)."""
    from .functions.evaluators import anova_udf, earth_movers

    fix = spark.read.parquet(_ANOVA_FIXTURE).select(
        "pair_id", "g1", "g2", "g3")
    a = anova_udf()(F.col("g1"), F.col("g2"), F.col("g3"))
    return fix.select(
        "pair_id",
        F.round(a["f_ratio"], 6).alias("f_ratio"),
        F.round(a["p_value"], 6).alias("p_value"),
        F.round(earth_movers(F.col("g1"), F.col("g2")), 6).alias("emd"),
    ).orderBy("pair_id")


@gate(
    "fn_eval_describe",
    f"""
SELECT pair_id,
       round(avg(v), 6) AS d_mean,
       round(stddev_samp(v), 6) AS d_std,
       round(min(v), 6) AS d_min,
       round(max(v), 6) AS d_max
FROM (SELECT pair_id, unnest(g1) AS v FROM read_parquet('{_ANOVA_FIXTURE}'))
GROUP BY pair_id
ORDER BY pair_id""",
)
def fn_eval_describe(spark, sf_dir):
    """describe evaluator (reference DescribeEvaluator.java →
    commons-math DescriptiveStatistics): mean / sample stddev / min /
    max as HOF Column exprs over the fixture arrays; the oracle
    RECOMPUTES them in SQL over the unnested values — an independent
    derivation, not frozen numbers."""
    from .functions.evaluators import describe_stats

    fix = spark.read.parquet(_ANOVA_FIXTURE).select("pair_id", "g1")
    mean, std, mn, mx = describe_stats(F.col("g1"))
    return fix.select(
        "pair_id",
        F.round(mean, 6).alias("d_mean"),
        F.round(std, 6).alias("d_std"),
        F.round(mn, 6).alias("d_min"),
        F.round(mx, 6).alias("d_max"),
    ).orderBy("pair_id")


@gate(
    "fn_eval_olsreg",
    f"""
SELECT pair_id, round(b0, 6) AS b0, round(b1, 6) AS b1,
       round(b2, 6) AS b2, round(rsq, 6) AS rsq
FROM read_parquet('{_ANOVA_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_olsreg(spark, sf_dir):
    """olsRegress evaluator (reference OLSRegressionEvaluator.java →
    commons-math OLSMultipleLinearRegression, intercept included):
    [b0, b1, b2, R²] computed LIVE by the Arrow least-squares UDF vs
    coefficients frozen from the REAL commons-math3 QR solve."""
    from .functions.evaluators import ols_regress_udf

    fix = spark.read.parquet(_ANOVA_FIXTURE).select(
        "pair_id", "xmat", "yvec")
    coef = ols_regress_udf()(F.col("xmat"), F.col("yvec"))
    return fix.select(
        "pair_id",
        F.round(F.element_at(coef, 1), 6).alias("b0"),
        F.round(F.element_at(coef, 2), 6).alias("b1"),
        F.round(F.element_at(coef, 3), 6).alias("b2"),
        F.round(F.element_at(coef, 4), 6).alias("rsq"),
    ).orderBy("pair_id")


@gate(
    "fn_eval_distrib3",
    f"""
WITH d AS (SELECT DISTINCT CAST(l_quantity AS INTEGER) AS x
           FROM lineitem
           WHERE l_quantity = floor(l_quantity)
             AND l_quantity BETWEEN 1 AND 50)
SELECT d.x, round(f.gamma_cdf, 6) AS gamma_cdf,
       round(f.beta_cdf, 6) AS beta_cdf,
       round(f.enum_pmf, 6) AS enum_pmf,
       round(f.enum_cdf, 6) AS enum_cdf
FROM d JOIN read_parquet('{_DISTRIB3_FIXTURE}') f ON f.x = d.x
ORDER BY d.x""",
)
def fn_eval_distrib3(spark, sf_dir):
    """Distribution evaluator family, part 3 — gammaDistribution /
    betaDistribution / enumeratedDistribution (reference
    {{Gamma,Beta}}DistributionEvaluator.java,
    EnumeratedDistributionEvaluator.java): gamma/beta CDFs LIVE via the
    incomplete gamma/beta continued fractions in the Arrow UDF,
    enumerated pmf/cdf as literal when-chains; oracle values frozen
    from commons-math3 in Spark's JVM (make_anova_fixture.py). Gamma
    shape=3 scale=5; Beta(2.5, 4) at x/51; enumerated support 1..10
    with the fixture's weight table."""
    from .functions.evaluators import (
        ENUM_VALUES, ENUM_WEIGHTS, enumerated_pmf_cdf, gamma_beta_cdf_udf,
    )

    li = load(spark, sf_dir, "lineitem")
    d = (li.filter((F.col("l_quantity") == F.floor("l_quantity"))
                   & (F.col("l_quantity") >= 1)
                   & (F.col("l_quantity") <= 50))
         .select(F.col("l_quantity").cast("int").alias("x")).distinct())
    x = F.col("x").cast("double")
    gb = gamma_beta_cdf_udf()(
        F.lit(3.0), F.lit(5.0), F.lit(2.5), F.lit(4.0), x, x / F.lit(51.0)
    )
    pmf, cdf = enumerated_pmf_cdf(ENUM_VALUES, ENUM_WEIGHTS, F.col("x"))
    return d.select(
        "x",
        F.round(gb["gamma_cdf"], 6).alias("gamma_cdf"),
        F.round(gb["beta_cdf"], 6).alias("beta_cdf"),
        F.round(pmf, 6).alias("enum_pmf"),
        F.round(cdf, 6).alias("enum_cdf"),
    ).orderBy("x")


@gate(
    "fn_eval_tests3",
    f"""
SELECT pair_id, round(welch_p, 6) AS welch_p, round(corr_p, 6) AS corr_p,
       round(chi2_p, 6) AS chi2_p
FROM read_parquet('{_ANOVA_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_tests3(spark, sf_dir):
    """Inference p-value trio — ttest p (Welch statistic +
    Welch–Satterthwaite df through the exact Student-t survival via the
    incomplete beta), correlationSignificance (reference
    CorrelationSignificanceEvaluator.java →
    PearsonsCorrelation.getCorrelationPValues), and chiSquareDataSet
    (ChiSquareDataSetEvaluator.java →
    ChiSquareTest.chiSquareTestDataSetsComparison over round(x)+1
    counts). Computed LIVE by the Arrow tests3 UDF; oracle values
    frozen from the REAL commons-math3 in Spark's JVM with live-vs-JVM
    agreement asserted at fixture build
    (scripts/make_anova_fixture.py)."""
    from .functions.evaluators import tests3_udf

    fix = spark.read.parquet(_ANOVA_FIXTURE).select("pair_id", "g1", "g2")
    t3 = tests3_udf()(F.col("g1"), F.col("g2"))
    return fix.select(
        "pair_id",
        F.round(t3["welch_p"], 6).alias("welch_p"),
        F.round(t3["corr_p"], 6).alias("corr_p"),
        F.round(t3["chi2_p"], 6).alias("chi2_p"),
    ).orderBy("pair_id")


_COMPOUND_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "compound_filters.parquet",
)

_COMPOUND_SQL = f"""
SELECT "case" || ':' || input_s AS comp_input, output_s
FROM read_parquet('{_COMPOUND_FIXTURE}')
ORDER BY comp_input"""


@gate("fts_decompound", _COMPOUND_SQL)
def fts_decompound(spark, sf_dir):
    """Compound-word decompounding — DictionaryCompoundWordTokenFilter
    (plain + onlyLongestMatch) and HyphenationCompoundWordTokenFilter
    (dictionary-checked, longest-match, and hyphenation-only min/max
    windows over the frozen Danish TeX pattern table) applied LIVE by
    the Arrow dispatcher over the golden vocabulary; the oracle reads
    the frozen outputs (scripts/make_compound_fixture.py). Semantics
    pinned by the reference JUnit vectors (tests/test_compound.py) and
    the Liang hyphenator verified 0-mismatch vs the reference's own
    compiled engine over 30k words
    (scripts/verify_hyphenation_jvm.py). Reference
    lucene/analysis/common/.../compound/{{CompoundWordTokenFilterBase,
    DictionaryCompoundWordTokenFilter,
    HyphenationCompoundWordTokenFilter,
    hyphenation/HyphenationTree}}.java (analysis/compound.py)."""
    from .analysis.compound import compound_udf

    fix = spark.read.parquet(_COMPOUND_FIXTURE).select("case", "input_s")
    toks = F.split(F.col("input_s"), "\x1f")
    return fix.select(
        F.concat_ws(":", "case", "input_s").alias("comp_input"),
        F.concat_ws(
            "\x1f", compound_udf(F.col("case"), toks)
        ).alias("output_s"),
    ).orderBy("comp_input")


_CHARFILTER_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "charfilter_cases.parquet",
)

_CHARFILTER_SQL = f"""
SELECT "case" || ':' || md5(input_s) AS cf_input, output_s
FROM read_parquet('{_CHARFILTER_FIXTURE}')
ORDER BY cf_input"""


@gate("fts_charfilter", _CHARFILTER_SQL)
def fts_charfilter(spark, sf_dir):
    """CharFilters — HTMLStripCharFilter (three escaped-tags configs)
    and MappingCharFilter applied LIVE by the Arrow dispatcher over the
    golden corpus; the oracle reads the frozen outputs
    (scripts/make_charfilter_fixture.py — HTML vectors verified
    0-mismatch against the reference's own JFlex scanner compiled as a
    JVM oracle over 16.7k doc/config pairs incl. the reference
    test-tree HTML files; mapping pinned by TestMappingCharFilter
    JUnit vectors in tests/test_charfilter.py). Inputs are keyed by
    md5 in the compare because raw HTML contains every delimiter.
    Reference lucene/analysis/common/.../charfilter/
    {{HTMLStripCharFilter.jflex,MappingCharFilter.java}}
    (analysis/charfilter.py)."""
    from .analysis.charfilter import charfilter_udf

    fix = spark.read.parquet(_CHARFILTER_FIXTURE).select("case", "input_s")
    return fix.select(
        F.concat_ws(":", "case", F.md5("input_s")).alias("cf_input"),
        charfilter_udf(F.col("case"), F.col("input_s")).alias("output_s"),
    ).orderBy("cf_input")


# deterministic synthetic path per document, identical in both engines:
# leading-slash / trailing-slash / doubled-delimiter variants by doc_id
_PATH_EXPR_SQL = """
CASE WHEN doc_id % 4 = 1 THEN '' ELSE '/' END
|| source
|| CASE WHEN doc_id % 7 = 0 THEN '//' ELSE '/' END
|| lang || '/doc' || CAST(doc_id AS VARCHAR)
|| CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END"""

_PATHHIER_SQL = f"""
WITH p AS (
  SELECT doc_id, ({_PATH_EXPR_SQL}) AS path
  FROM documents WHERE doc_id % 5 < 2
), f AS (
  SELECT doc_id, path,
    [array_to_string(parts[1:i], '/')
     FOR i IN range(CASE WHEN parts[1] = '' THEN 2 ELSE 1 END,
                    len(parts) + 1)] AS fwd,
    [array_to_string(parts[i:], '/')
     FOR i IN range(1, len(parts) + CASE WHEN parts[-1] = '' THEN 0
                                         ELSE 1 END)] AS rev
  FROM (SELECT doc_id, path, string_split(path, '/') AS parts FROM p)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'fwd:' || fwd[u.pos] AS tok, CAST(u.pos AS INT) AS pos
FROM f, unnest(range(1, len(fwd) + 1)) AS u(pos)
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'rev:' || rev[u.pos] AS tok, CAST(u.pos AS INT) AS pos
FROM f, unnest(range(1, len(rev) + 1)) AS u(pos)
ORDER BY doc_id, tok, pos"""


@gate("fts_pathhier", _PATHHIER_SQL)
def fts_pathhier(spark, sf_dir):
    """Path-hierarchy tokenizers — PathHierarchyTokenizer (cumulative
    prefixes) and ReversePathHierarchyTokenizer (cumulative suffixes)
    run LIVE by the Arrow dispatcher over deterministic synthetic
    paths (leading/trailing/doubled-delimiter variants); the DuckDB
    oracle derives the same token sets independently as split-prefix /
    split-suffix joins — an algebraic identity of the skip=0 paths
    (skip>0 pinned by the JUnit vectors in tests/test_pathhier.py).
    Reference lucene/analysis/common/.../path/
    {{PathHierarchyTokenizer,ReversePathHierarchyTokenizer}}.java
    (analysis/pathhier.py)."""
    from .analysis.pathhier import (
        path_hierarchy_udf, reverse_path_hierarchy_udf,
    )

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 < 2)
    path = F.concat(
        F.when(F.col("doc_id") % 4 == 1, F.lit("")).otherwise(F.lit("/")),
        F.col("source"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("//")).otherwise(F.lit("/")),
        F.col("lang"), F.lit("/doc"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    base = docs.select("doc_id", path.alias("path"))
    fwd = base.select(
        "doc_id", F.posexplode(path_hierarchy_udf(F.col("path"))).alias("p0", "t"),
    ).select("doc_id", F.concat(F.lit("fwd:"), "t").alias("tok"),
             (F.col("p0") + 1).cast("int").alias("pos"))
    rev = base.select(
        "doc_id", F.posexplode(reverse_path_hierarchy_udf(F.col("path"))).alias("p0", "t"),
    ).select("doc_id", F.concat(F.lit("rev:"), "t").alias("tok"),
             (F.col("p0") + 1).cast("int").alias("pos"))
    return fwd.unionAll(rev).orderBy("doc_id", "tok", "pos")


_AUTOSTOP_SQL = f"""
WITH toks AS ({_TOKS}),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks)
SELECT 'pct40:' || term AS stop_term, CAST(df AS BIGINT) AS df
FROM df, n WHERE df > CAST(floor(0.4 * n_docs) AS BIGINT)
UNION ALL
SELECT 'abs120:' || term AS stop_term, CAST(df AS BIGINT) AS df
FROM df WHERE df > 120
ORDER BY stop_term"""


@gate("fts_auto_stopwords", _AUTOSTOP_SQL)
def fts_auto_stopwords(spark, sf_dir):
    """QueryAutoStopWordAnalyzer — stopword sets derived from document
    frequency at the reference's default 40% threshold (float
    overload, maxPercentDocs * numDocs) and an absolute maxDocFreq
    overload (reference lucene/analysis/common/.../query/
    QueryAutoStopWordAnalyzer.java:118; search/autostop.py). Both
    engines derive df independently from the raw documents table."""
    from .search.autostop import auto_stop_words

    toks = doc_tokens(spark, sf_dir).select("doc_id", "term")
    pct = auto_stop_words(toks, max_percent_docs=0.4).select(
        F.concat(F.lit("pct40:"), "term").alias("stop_term"),
        F.col("df").cast("long").alias("df"))
    ab = auto_stop_words(toks, max_doc_freq=120).select(
        F.concat(F.lit("abs120:"), "term").alias("stop_term"),
        F.col("df").cast("long").alias("df"))
    return pct.unionAll(ab).orderBy("stop_term")


_WIKIPEDIA_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "wikipedia_cases.parquet",
)

_WIKIPEDIA_SQL = f"""
SELECT mode || ':' || md5(input_s) AS wk_input, output_s
FROM read_parquet('{_WIKIPEDIA_FIXTURE}')
ORDER BY wk_input"""


@gate("fts_wikipedia", _WIKIPEDIA_SQL)
def fts_wikipedia(spark, sf_dir):
    """WikipediaTokenizer — MediaWiki-markup tokenization in all three
    wrapper output modes (TOKENS_ONLY / UNTOKENIZED_ONLY collapse /
    BOTH) applied LIVE by the Arrow dispatcher over the golden corpus;
    the oracle reads the frozen outputs
    (scripts/make_wikipedia_fixture.py). Semantics pinned by every
    reference JUnit vector incl. the 97-token handwritten corpus
    (tests/test_wikipedia.py). Reference lucene/analysis/common/.../
    wikipedia/{{WikipediaTokenizerImpl.jflex,WikipediaTokenizer.java}}
    (analysis/wikipedia.py)."""
    from .analysis.wikipedia import wikipedia_udf

    fix = spark.read.parquet(_WIKIPEDIA_FIXTURE).select("mode", "input_s")
    return fix.select(
        F.concat_ws(":", "mode", F.md5("input_s")).alias("wk_input"),
        wikipedia_udf(F.col("mode"), F.col("input_s")).alias("output_s"),
    ).orderBy("wk_input")


_CLASSIC_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "classic_cases.parquet",
)

_CLASSIC_SQL = f"""
SELECT mode || ':' || md5(input_s) AS cl_input, output_s
FROM read_parquet('{_CLASSIC_FIXTURE}')
ORDER BY cl_input"""


@gate("fts_classic", _CLASSIC_SQL)
def fts_classic(spark, sf_dir):
    """ClassicTokenizer + ClassicFilter — the pre-3.1 StandardTokenizer
    grammar (ALPHANUM/APOSTROPHE/ACRONYM/COMPANY/EMAIL/HOST/NUM/CJ with
    maxTokenLength skip and ACRONYM_DEP->HOST retype) applied LIVE by
    the Arrow dispatcher in three modes (raw255/filtered255/raw10); the
    oracle reads outputs frozen after word-for-word verification
    against the COMPILED reference scanner over a full-BMP sweep
    (scripts/make_classic_fixture.py). Reference lucene/analysis/
    common/.../standard/{{ClassicTokenizerImpl.jflex,
    ClassicTokenizer.java,ClassicFilter.java}} (analysis/classic.py)."""
    from .analysis.classic import classic_udf

    fix = spark.read.parquet(_CLASSIC_FIXTURE).select("mode", "input_s")
    return fix.select(
        F.concat_ws(":", "mode", F.md5("input_s")).alias("cl_input"),
        classic_udf(F.col("mode"), F.col("input_s")).alias("output_s"),
    ).orderBy("cl_input")


_UAX29_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "uax29_cases.parquet",
)

_UAX29_SQL = f"""
SELECT mode || ':' || md5(input_s) AS ux_input, output_s
FROM read_parquet('{_UAX29_FIXTURE}')
ORDER BY ux_input"""


@gate("fts_uax29", _UAX29_SQL)
def fts_uax29(spark, sf_dir):
    """UAX29URLEmailTokenizer — UAX#29 word breaks (Unicode 9.0) +
    TR#51 emoji sequences + RFC URL/EMAIL recognition with the IANA
    TLD registry, applied LIVE by the Arrow dispatcher in two
    maxTokenLength modes; the oracle reads outputs frozen after
    word-for-word verification against the COMPILED reference JFlex
    scanner over the reference's own random URL/email test resources,
    a structured corpus, and full-BMP + astral per-char sweeps — 5905
    docs, zero mismatches (scripts/make_uax29_fixture.py). Reference
    lucene/analysis/common/.../standard/{{UAX29URLEmailTokenizerImpl
    .jflex,UAX29URLEmailTokenizer.java}} (analysis/uax29.py)."""
    from .analysis.uax29 import uax29_udf

    fix = spark.read.parquet(_UAX29_FIXTURE).select("mode", "input_s")
    return fix.select(
        F.concat_ws(":", "mode", F.md5("input_s")).alias("ux_input"),
        uax29_udf(F.col("mode"), F.col("input_s")).alias("output_s"),
    ).orderBy("ux_input")


_CHARTOK_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "chartok_cases.parquet",
)

_CHARTOK_SQL = f"""
SELECT mode || ':' || md5(input_s) AS ct_input, output_s
FROM read_parquet('{_CHARTOK_FIXTURE}')
ORDER BY ct_input"""


@gate("fts_chartokenizers", _CHARTOK_SQL)
def fts_chartokenizers(spark, sf_dir):
    """CharTokenizer family (Letter/Whitespace/UnicodeWhitespace with
    UTF-16 maxTokenLen run-splitting) + KeywordTokenizer +
    NGram/EdgeNGram tokenizers (code-point grams by increasing start
    offset), applied LIVE by the Arrow dispatcher across 11
    parameterizations; the oracle reads outputs frozen after
    word-for-word verification against the COMPILED reference classes
    over full-BMP + astral sweeps — 14997 cases, zero mismatches
    (scripts/make_chartok_fixture.py). Reference lucene/analysis/
    common/.../util/CharTokenizer.java:165-215,
    core/{{Letter,Whitespace,UnicodeWhitespace,Keyword}}Tokenizer.java,
    ngram/{{NGram,EdgeNGram}}Tokenizer.java
    (analysis/chartokenizers.py)."""
    from .analysis.chartokenizers import chartok_udf

    fix = spark.read.parquet(_CHARTOK_FIXTURE).select("mode", "input_s")
    return fix.select(
        F.concat_ws(":", "mode", F.md5("input_s")).alias("ct_input"),
        chartok_udf(F.col("mode"), F.col("input_s")).alias("output_s"),
    ).orderBy("ct_input")


_SPT_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "simplepattern_cases.parquet",
)

_SPT_SQL = f"""
SELECT "case" || ':' || md5(input_s) AS sp_input, output_s
FROM read_parquet('{_SPT_FIXTURE}')
ORDER BY sp_input"""


@gate("fts_simplepattern", _SPT_SQL)
def fts_simplepattern(spark, sf_dir):
    """SimplePatternTokenizer + SimplePatternSplitTokenizer over a
    full Lucene RegExp->DFA engine (recursive-descent grammar with
    union/intersection/complement/char-classes/decimal-intervals,
    interval-NFA subset-construction determinization —
    analysis/luceneregex.py) with the reference's greedy longest-match
    scanner loops incl. code-unit pushback and EOF-no-accept
    termination (analysis/simplepattern.py), applied LIVE by the Arrow
    dispatcher across 7 pattern parameterizations; the oracle reads
    outputs frozen after word-for-word verification against the
    COMPILED reference (full util/automaton package + both tokenizers)
    over 14952 pattern x doc cases, zero mismatches
    (scripts/make_simplepattern_fixture.py). Reference lucene/core/
    .../util/automaton/{{RegExp,Automata,Operations}}.java,
    lucene/analysis/common/.../pattern/SimplePattern{{,Split}}
    Tokenizer.java."""
    from .analysis.simplepattern import simplepattern_udf

    fix = spark.read.parquet(_SPT_FIXTURE).select("case", "input_s")
    return fix.select(
        F.concat_ws(":", "case", F.md5("input_s")).alias("sp_input"),
        simplepattern_udf(F.col("case"), F.col("input_s"))
        .alias("output_s"),
    ).orderBy("sp_input")


_WDGF_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "wdgf_cases.parquet",
)

_WDGF_SQL = f"""
SELECT mode || ':' || md5(input_s) AS wd_input, output_s
FROM read_parquet('{_WDGF_FIXTURE}')
ORDER BY wd_input"""


@gate("fts_wdgf_full", _WDGF_SQL)
def fts_wdgf_full(spark, sf_dir):
    """FULL WordDelimiterGraphFilter — all ten flags (generate word/
    number parts, catenate words/numbers/all, preserve original, split
    on case change/numerics, stem English possessive, protected
    words) with exact graph positions (posInc hole accumulation,
    posLen spans, part-sorted emission, never-backwards offsets),
    plus FlattenGraphFilter composition (graph->flat posInc/posLen
    remap for indexing, analysis/flattengraph.py), applied LIVE by
    the Arrow dispatcher across 11 modes; the oracle reads outputs
    frozen after word-for-word verification
    (term+posInc+posLen+offsets) against the COMPILED reference
    filters — 7898 cases, zero mismatches
    (scripts/make_wdgf_fixture.py). Reference lucene/analysis/common/
    .../miscellaneous/{{WordDelimiterGraphFilter,
    WordDelimiterIterator}}.java, core/FlattenGraphFilter.java
    (analysis/worddelim.py)."""
    from .analysis.worddelim import wdgf_udf

    fix = spark.read.parquet(_WDGF_FIXTURE).select("mode", "input_s")
    return fix.select(
        F.concat_ws(":", "mode", F.md5("input_s")).alias("wd_input"),
        wdgf_udf(F.col("mode"), F.col("input_s")).alias("output_s"),
    ).orderBy("wd_input")


_MINHASH_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "minhash_cases.parquet",
)

_MINHASH_SQL = f"""
SELECT "case" || ':' || md5(input_s) AS mh_input, output_s
FROM read_parquet('{_MINHASH_FIXTURE}')
ORDER BY mh_input"""


@gate("fts_minhash", _MINHASH_SQL)
def fts_minhash(spark, sf_dir):
    """MinHashFilter — per-stream MinHash fingerprints (murmur3_x64_128
    over UTF-16LE, combineOrdered rehash variants, bucketed unsigned
    min-sets, withRotation fill) across four parameterizations, run
    LIVE by the Arrow dispatcher over frozen shingle streams; the
    oracle reads the frozen outputs (scripts/make_minhash_fixture.py).
    Bit-exact semantics pinned by the reference JUnit vectors incl.
    the exact 128-bit fingerprint code units
    (tests/test_minhashfilter.py). Reference lucene/analysis/common/
    .../minhash/MinHashFilter.java (analysis/minhashfilter.py)."""
    from .analysis.minhashfilter import minhash_udf

    fix = spark.read.parquet(_MINHASH_FIXTURE).select("case", "input_s")
    return fix.select(
        F.concat_ws(":", "case", F.md5("input_s")).alias("mh_input"),
        minhash_udf(F.col("case"), F.col("input_s")).alias("output_s"),
    ).orderBy("mh_input")


def _geohash_sql(lat_expr: str, lon_expr: str, precision: int = 12) -> str:
    """DuckDB mirror of functions/valuesource.py geohash_encode: the
    identical quantization + bit arithmetic, generated char by char."""
    b = 30
    ix = (f"least(greatest(CAST(floor(({lon_expr} + 180.0) / 360.0 * "
          f"{float(1 << b)!r}) AS BIGINT), 0), {(1 << b) - 1})")
    iy = (f"least(greatest(CAST(floor(({lat_expr} + 90.0) / 180.0 * "
          f"{float(1 << b)!r}) AS BIGINT), 0), {(1 << b) - 1})")
    chars = []
    for k in range(precision):
        terms = []
        for t in range(5):
            p = 5 * k + t
            src, m = (ix, p // 2) if p % 2 == 0 else (iy, (p - 1) // 2)
            terms.append(
                f"(CAST(floor({src} / {float(1 << (b - 1 - m))!r}) "
                f"AS BIGINT) % 2) * {1 << (4 - t)}")
        chars.append(
            "substr('0123456789bcdefghjkmnpqrstuvwxyz', "
            f"CAST({' + '.join(terms)} AS INTEGER) + 1, 1)")
    return " || ".join(chars)


_GHHSIN_PTS = """
  SELECT c_custkey,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer WHERE c_custkey <= 256"""

_GEOHASH_SQL_ORACLE = f"""
WITH pts AS ({_GHHSIN_PTS}),
c AS (
  SELECT c_custkey, lat, lon,
    (least(greatest(CAST(floor((lat + 90.0) / 180.0 * 1073741824.0)
       AS BIGINT), 0), 1073741823) + 0.5) / 1073741824.0 * 180.0 - 90.0
      AS clat,
    (least(greatest(CAST(floor((lon + 180.0) / 360.0 * 1073741824.0)
       AS BIGINT), 0), 1073741823) + 0.5) / 1073741824.0 * 360.0 - 180.0
      AS clon
  FROM pts)
SELECT c_custkey, {_geohash_sql('lat', 'lon')} AS ghash,
  round(6371.0087714 * 2.0 * atan2(
    sqrt(least(sin(radians(clat - 40.00000004656613) / 2)
               * sin(radians(clat - 40.00000004656613) / 2)
      + cos(radians(clat)) * cos(radians(40.00000004656613))
        * sin(radians(clon - (-74.000000115484)) / 2)
        * sin(radians(clon - (-74.000000115484)) / 2), 1.0)),
    sqrt(1 - least(sin(radians(clat - 40.00000004656613) / 2)
                   * sin(radians(clat - 40.00000004656613) / 2)
      + cos(radians(clat)) * cos(radians(40.00000004656613))
        * sin(radians(clon - (-74.000000115484)) / 2)
        * sin(radians(clon - (-74.000000115484)) / 2), 1.0))), 3)
    AS gh_dist_km
FROM c ORDER BY c_custkey"""


@gate("fn_geo_hash", _GEOHASH_SQL_ORACLE)
def fn_geo_hash(spark, sf_dir):
    """geohash + ghhsin function queries (reference solr/core/.../
    search/{ValueSourceParser.java addParser("geohash"/"ghhsin"),
    function/distance/GeohashHaversineFunction.java}): base-32 geohash
    of deterministic synthetic points and the haversine km between the
    two points' geohash CELL CENTERS (fixed point = cell center of
    (40, -74)). The oracle regenerates the identical bit arithmetic
    char-by-char (functions/valuesource.py geohash_encode/ghhsin).
    Pure Column exprs, narrow projection — no shuffle."""
    from .functions.valuesource import geohash_encode, ghhsin

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 256)
    pts = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7) % 180) - 90 + 0.5)
        .cast("double").alias("lat"),
        (((F.col("c_custkey") * 13) % 360) - 180 + 0.5)
        .cast("double").alias("lon"),
    )
    return pts.select(
        "c_custkey",
        geohash_encode(F.col("lat"), F.col("lon")).alias("ghash"),
        F.round(
            ghhsin(F.lit(6371.0087714), F.col("lat"), F.col("lon"),
                   F.lit(40.0), F.lit(-74.0)), 3).alias("gh_dist_km"),
    ).orderBy("c_custkey")


_SPAN_PAYLOAD_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(0, len(string_split(text, ' ')))) AS pos
  FROM documents),
pl AS (SELECT doc_id, term, pos, (doc_id + pos) % 5 AS payload FROM tok),
a AS (SELECT doc_id, pos FROM pl WHERE term = 'table'),
b AS (SELECT doc_id, pos FROM pl WHERE term = 'hash' AND payload = 2)
SELECT a.doc_id, count(*) AS span_freq
FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
GROUP BY a.doc_id ORDER BY a.doc_id"""


@gate("fts_span_payload_check", _SPAN_PAYLOAD_SQL)
def fts_span_payload_check(spark, sf_dir):
    """SpanPayloadCheckQuery: ordered adjacent span "table hash" kept
    only where the per-position payload list matches [ANY, 2.0] — the
    reference's null-slot wildcard + exact payload compare
    (lucene/queries/.../payloads/SpanPayloadCheckQuery.java:154-170,
    checkPosition). Payloads are the same deterministic delimited
    stream as fts_payload_score ((doc_id+pos)%5 via "term|p" text),
    re-parsed by the DelimitedPayloadTokenFilter analog; the span is
    evaluated as offset equi-joins on the payload posting relation —
    term-pushed scans, no cartesian (analysis/payloads.py
    span_payload_check)."""
    from .analysis.payloads import (
        delimited_payload_postings, span_payload_check,
    )

    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    payloaded = F.concat_ws(
        " ",
        F.transform(
            toks,
            lambda t, i: F.concat(
                t, F.lit("|"), ((F.col("doc_id") + i) % 5).cast("string")
            ),
        ),
    )
    postings = delimited_payload_postings(
        docs.select("doc_id", payloaded.alias("text"))
    )
    return span_payload_check(postings, ["table", "hash"], [None, 2.0])


def _inet_sql():
    from .functions.inet import cidr_bounds, ipv4_encode, ipv4_encode_sql

    lo_c, hi_c = cidr_bounds("10.128.0.0", 9)
    lo_r = ipv4_encode("10.50.0.0")
    hi_r = ipv4_encode("10.150.255.255")
    s1 = ipv4_encode("10.1.7.13")      # c_custkey = 1
    s2 = ipv4_encode("10.100.188.20")  # c_custkey = 100
    ip = ("concat('10.', CAST(c_custkey % 256 AS STRING), '.', "
          "CAST((c_custkey * 7) % 256 AS STRING), '.', "
          "CAST((c_custkey * 13) % 256 AS STRING))")
    return f"""
WITH pts AS (
  SELECT c_custkey, {ip} AS ip
  FROM customer WHERE c_custkey <= 512),
enc AS (SELECT c_custkey, {ipv4_encode_sql('ip')} AS ip_hex FROM pts),
flags AS (
  SELECT c_custkey, ip_hex,
    CASE WHEN ip_hex BETWEEN '{lo_c}' AND '{hi_c}' THEN 1 ELSE 0 END
      AS in_cidr,
    CASE WHEN ip_hex BETWEEN '{lo_r}' AND '{hi_r}' THEN 1 ELSE 0 END
      AS in_range,
    CASE WHEN ip_hex IN ('{s1}', '{s2}') THEN 1 ELSE 0 END AS in_set
  FROM enc)
SELECT * FROM flags WHERE in_cidr + in_range + in_set > 0
ORDER BY c_custkey"""


@gate("rel_inet_point", _inet_sql())
def rel_inet_point(spark, sf_dir):
    """InetAddressPoint queries — exact-set, range, and CIDR prefix —
    over deterministic synthetic per-customer IPv4 addresses. Every
    address is encoded to its 16-byte IPv6-mapped form (RFC 4291
    ::ffff:a.b.c.d) rendered as 32 lowercase hex chars, so unsigned
    byte order == string order and every predicate is a sargable
    string comparison the scan can push down (the BKD range analog;
    reference lucene/misc/.../document/InetAddressPoint.java —
    newExactQuery/newRangeQuery/newPrefixQuery:186-204 mask expansion,
    newSetQuery). Spark and the oracle share the identical encode SQL
    text (functions/inet.py ipv4_encode_sql). Narrow projection, no
    shuffle before the final sort."""
    from .functions.inet import cidr_bounds, ipv4_encode, ipv4_encode_col

    lo_c, hi_c = cidr_bounds("10.128.0.0", 9)
    lo_r = ipv4_encode("10.50.0.0")
    hi_r = ipv4_encode("10.150.255.255")
    in_set = [ipv4_encode("10.1.7.13"), ipv4_encode("10.100.188.20")]

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 512)
    ip = F.concat(
        F.lit("10."), (F.col("c_custkey") % 256).cast("string"),
        F.lit("."), ((F.col("c_custkey") * 7) % 256).cast("string"),
        F.lit("."), ((F.col("c_custkey") * 13) % 256).cast("string"),
    )
    enc = c.select("c_custkey", ip.alias("ip")).select(
        "c_custkey", ipv4_encode_col("ip").alias("ip_hex")
    )
    flags = enc.select(
        "c_custkey",
        "ip_hex",
        F.col("ip_hex").between(lo_c, hi_c).cast("int").alias("in_cidr"),
        F.col("ip_hex").between(lo_r, hi_r).cast("int").alias("in_range"),
        F.col("ip_hex").isin(in_set).cast("int").alias("in_set"),
    )
    return flags.filter(
        (F.col("in_cidr") + F.col("in_range") + F.col("in_set")) > 0
    ).orderBy("c_custkey")


_IRQ_TERMS = ["merge", "spark", "vector"]

_IRQ_SQL = f"""
WITH {bm25_scored_cte(_IRQ_TERMS)},
agg AS (SELECT term AS qid, doc_id, sum(term_score) AS score
        FROM scored GROUP BY term, doc_id),
run AS (SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY round(score, 4) DESC,
                                           doc_id ASC) AS rank
        FROM agg),
topk AS (SELECT * FROM run WHERE rank <= 20),
rel AS (SELECT term AS qid, doc_id FROM tf WHERE freq >= 3),
mg AS (SELECT qid, count(*) AS max_good FROM rel GROUP BY qid),
j AS (SELECT t.qid, t.rank,
             CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
      FROM topk t LEFT JOIN rel r
        ON t.qid = r.qid AND t.doc_id = r.doc_id),
c AS (SELECT qid, rank, is_rel,
             sum(is_rel) OVER (PARTITION BY qid ORDER BY rank)
               AS cum_good
      FROM j),
m AS (SELECT qid,
             sum(is_rel) AS num_good,
             min(CASE WHEN is_rel = 1 THEN rank END) AS first_rel,
             sum(CASE WHEN is_rel = 1
                      THEN cum_good * 1.0 / rank END) AS p_sum,
             sum(CASE WHEN rank <= 10 THEN is_rel ELSE 0 END) / 10.0
               AS p10
      FROM c GROUP BY qid)
SELECT m.qid,
       round(coalesce(m.p_sum, 0) / mg.max_good, 6) AS avp,
       round(CASE WHEN m.first_rel <= 5 THEN 1.0 / m.first_rel
                  ELSE 0 END, 6) AS mrr,
       round(m.p10, 6) AS p10,
       round(m.num_good * 1.0 / mg.max_good, 6) AS recall
FROM m JOIN mg USING (qid) ORDER BY m.qid"""


@gate("fn_ir_quality", _IRQ_SQL)
def fn_ir_quality(spark, sf_dir):
    """TREC-style quality benchmark (lucene/benchmark/.../quality/
    QualityStats.java): three judged term queries replayed as BM25
    top-20 runs, judged against a tf>=3 relevance pool, folded into
    AvP (pReleventSum/maxGood), MRR (first relevant hit only if rank
    <=5), P@10, and recall per query. Runs use the double-precision
    scoring pipeline with the rank cut on round(score,4) so both
    engines agree at the window boundary (the fts_rerank_query
    pattern); metrics are one window cumsum + one hash-agg per query
    (operators/irquality.py)."""
    from pyspark.sql import Window as W

    from .index.builder import simple_tokens
    from .operators.irquality import quality_stats

    tables = docs_index(spark, sf_dir)
    scored = None
    for t in _IRQ_TERMS:
        r = search_bruteforce(
            tables, [t], "disjunctive", k=None, precision="double"
        ).select(F.lit(t).alias("qid"), "doc_id", "score")
        scored = r if scored is None else scored.unionByName(r)
    # rank windows are per-query: partition by qid so each query's
    # cut is a parallel per-key window, never a single-task global
    # sort (the TopDocs.merge shape — per-shard top-k, tiny merge)
    w = W.partitionBy("qid").orderBy(
        F.desc(F.round("score", 4)), F.asc("doc_id")
    )
    runs = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("qid", "doc_id", "rank")
    )

    docs = load(spark, sf_dir, "documents")
    judg = (
        docs.select(
            "doc_id", F.explode(simple_tokens("text")).alias("term")
        )
        .filter(F.col("term").isin(_IRQ_TERMS))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 3)
        .select(F.col("term").alias("qid"), "doc_id")
    )
    q = quality_stats(runs, judg, cutoffs=(5, 10, 20))
    return q.select(
        "qid",
        F.round("avp", 6).alias("avp"),
        F.round("mrr", 6).alias("mrr"),
        F.round("p_at_10", 6).alias("p10"),
        F.round("recall", 6).alias("recall"),
    ).orderBy("qid")


_TAX_ASSOC_SQL = """
WITH p AS (
  SELECT r.r_name || '/' || n.n_name || '/' || c.c_mktsegment AS path,
         (c.c_custkey % 7) + 1 AS ai,
         CAST(c.c_acctbal AS DOUBLE) AS af
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey),
pre AS (
  SELECT array_to_string(sp[1:i], '/') AS path, ai, af
  FROM (SELECT string_split(path, '/') AS sp, ai, af FROM p),
       (SELECT unnest(range(1, 4)) AS i))
SELECT path,
  CAST(sum(ai) AS BIGINT) AS sum_int,
  round(CAST(sum(CAST(af AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_float
FROM pre GROUP BY path ORDER BY path"""


@gate("rel_facet_assoc", _TAX_ASSOC_SQL)
def rel_facet_assoc(spark, sf_dir):
    """Association facets: every taxonomy ancestor accumulates the SUM
    of each customer's int association ((c_custkey%7)+1) and float
    association (c_acctbal) instead of a count — the reference's
    TaxonomyFacetSum{Int,Float}Associations over
    {Int,Float}AssociationFacetField (lucene/facet/.../taxonomy/
    TaxonomyFacetSumFloatAssociations.java:70-90). One exploded
    hash-agg, map-side combined; float sums ride DECIMAL for
    cross-engine exactness (operators/facet.py
    taxonomy_sum_associations)."""
    from .operators.facet import path_col, taxonomy_sum_associations

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    p = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            path_col(
                F.col("r_name"), F.col("n_name"), F.col("c_mktsegment")
            ).alias("path"),
            ((F.col("c_custkey") % 7) + 1).alias("ai"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("af"),
        )
    )
    out = taxonomy_sum_associations(p, "ai", "af")
    return out.select(
        "path",
        F.col("sum_int").cast("long").alias("sum_int"),
        F.round(F.col("sum_float").cast("double"), 2).alias("sum_float"),
    ).orderBy("path")


_LONGVAL_SQL = """
SELECT CAST(l_quantity AS BIGINT) AS value,
       CAST(count(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY value ORDER BY cnt DESC, value ASC LIMIT 20"""


@gate("rel_facet_longvals", _LONGVAL_SQL)
def rel_facet_longvals(spark, sf_dir):
    """LongValueFacetCounts: top-20 facet counts over the raw long
    values of a numeric field (no taxonomy, no string indexing —
    lucene/facet/.../LongValueFacetCounts.java getTopChildren: count
    desc, value asc). One hash-agg + TakeOrdered
    (operators/facet.py long_value_counts)."""
    from .operators.facet import long_value_counts

    li = load(spark, sf_dir, "lineitem")
    return long_value_counts(li, "l_quantity", top=20)


_GEO_NEAREST_SQL = """
WITH pts AS (
  SELECT c_custkey,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer)
SELECT c_custkey,
       round(2.0 * 6371.0087714 * asin(sqrt(
         sin(radians(40.0 - lat) / 2) * sin(radians(40.0 - lat) / 2)
         + cos(radians(lat)) * cos(radians(40.0))
           * sin(radians(-74.0 - lon) / 2) * sin(radians(-74.0 - lon) / 2)
       )), 3) AS dist_km
FROM pts
ORDER BY dist_km ASC, c_custkey ASC LIMIT 8"""


@gate("fn_geo_nearest", _GEO_NEAREST_SQL)
def fn_geo_nearest(spark, sf_dir):
    """LatLonPointPrototypeQueries.nearest / NearestNeighbor: the k=8
    points nearest to (40, -74) by great-circle distance, ties by key
    asc (reference lucene/sandbox/.../search/NearestNeighbor.java —
    BKD best-first traversal with a bounded hit queue;
    LatLonPointPrototypeQueries.java nearest). Spark shape: per-
    partition top-k + global TakeOrderedAndProject — the distributed
    analog of the bounded queue, no full sort, no shuffle of the scan;
    the rank cut compares the ROUNDED km so both engines agree at the
    boundary. Haversine identical to fn_geodist."""
    from .functions.valuesource import geodist

    c = load(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7) % 180) - 90 + 0.5).alias("lat"),
        (((F.col("c_custkey") * 13) % 360) - 180 + 0.5).alias("lon"),
    )
    return (
        pts.select(
            "c_custkey",
            F.round(
                geodist(
                    F.col("lat"), F.col("lon"), F.lit(40.0), F.lit(-74.0)
                ),
                3,
            ).alias("dist_km"),
        )
        .orderBy(F.asc("dist_km"), F.asc("c_custkey"))
        .limit(8)
    )


_TERMSCOMP_SQL = f"""
WITH toks AS ({_TOKS}),
dict AS (SELECT term, count(DISTINCT doc_id) AS df
         FROM toks GROUP BY term),
cnt AS (
  SELECT 'count' AS mode, term, CAST(df AS BIGINT) AS df
  FROM dict
  WHERE term >= 'm' AND term < 't' AND df >= 5 AND df <= 10000
  ORDER BY df DESC, term ASC LIMIT 15),
idx AS (
  SELECT 'index' AS mode, term, CAST(df AS BIGINT) AS df
  FROM dict
  WHERE term LIKE 's%' AND regexp_full_match(term, '[a-z0-9]*a[a-z0-9]*')
    AND df >= 2
  ORDER BY term ASC LIMIT 12)
SELECT * FROM (SELECT * FROM cnt UNION ALL SELECT * FROM idx)
ORDER BY mode, df DESC, term ASC"""


@gate("fts_terms_component", _TERMSCOMP_SQL)
def fts_terms_component(spark, sf_dir):
    """Solr TermsComponent (/terms): term enumeration off the
    dictionary under the full parameter surface — terms.lower (incl) /
    terms.upper (excl) bounds, terms.mincount/maxcount window,
    terms.sort=count via the BoundedTreeSet CountPair order (df desc,
    term asc — SimpleFacets.CountPair.compareTo:1149-1152), and a
    second enumeration with terms.prefix + terms.regexp (full-match,
    Pattern.matcher().matches()) under terms.sort=index (term order,
    first `limit` qualifying terms — TermsComponent.java:171-366).
    Both are pruned dictionary scans + TakeOrdered; postings are never
    touched."""
    tables = docs_index(spark, sf_dir)
    d = tables.dictionary.select(
        "term", F.col("df").cast("long").alias("df")
    )
    cnt = (
        d.filter(
            (F.col("term") >= "m") & (F.col("term") < "t")
            & (F.col("df") >= 5) & (F.col("df") <= 10000)
        )
        .select(F.lit("count").alias("mode"), "term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(15)
    )
    idx = (
        d.filter(
            F.col("term").startswith("s")
            & F.col("term").rlike("^[a-z0-9]*a[a-z0-9]*$")
            & (F.col("df") >= 2)
        )
        .select(F.lit("index").alias("mode"), "term", "df")
        .orderBy(F.asc("term"))
        .limit(12)
    )
    return cnt.unionByName(idx).orderBy(
        "mode", F.desc("df"), F.asc("term")
    )


# ----------------------------------- PhrasesIdentificationComponent

_PHID_WORDS = ["table", "hash", "value", "part"]
_PHID_MI, _PHID_MQ = 3, 4


def _phid_sql():
    """Generate the DuckDB mirror of the phrase-identification scoring:
    the candidate/sub-phrase/wrapper STRUCTURE comes from the query
    shape (compile time), every statistic and the full Bayesian score
    are computed by the oracle from the data — an independent
    re-implementation of computeFieldScore, not baked numbers."""
    from .search.phrasesid import enumerate_phrases

    words, mi, mq = _PHID_WORDS, _PHID_MI, _PHID_MQ
    phrases = enumerate_phrases(words, mi, mq)
    vocab = sorted(set(words))
    vlist = ",".join(f"'{w}'" for w in vocab)

    def u(w):
        return f"coalesce((SELECT ttf FROM uni WHERE term='{w}'), 0)"

    def ngk(g):
        return " ".join(g)

    def ng(g, col):
        return f"(SELECT {col} FROM ng WHERE gram='{ngk(g)}')"

    def cj(ws):
        s = ",".join(sorted(set(ws)))
        return f"(SELECT n FROM conj WHERE s='{s}')"

    ngrams = sorted({p[2] for p in phrases if p[3] and p[1] >= 2})
    ng_legs = []
    for g in ngrams:
        legs = "\n    ".join(
            f"JOIN toks t{i} ON t0.doc_id = t{i}.doc_id "
            f"AND t{i}.term = '{g[i]}' AND t{i}.pos = t0.pos + {i}"
            for i in range(1, len(g))
        )
        ng_legs.append(
            f"SELECT '{ngk(g)}' AS gram, count(*) AS ttf,\n"
            f"       count(DISTINCT t0.doc_id) AS df\n"
            f"FROM toks t0 {legs}\nWHERE t0.term = '{g[0]}'"
        )
    sets = sorted({tuple(sorted(set(p[2]))) for p in phrases})
    conj_legs = []
    for s in sets:
        slist = ",".join(f"'{w}'" for w in s)
        conj_legs.append(
            f"SELECT '{','.join(s)}' AS s, count(*) AS n FROM (\n"
            f"  SELECT doc_id FROM toks WHERE term IN ({slist})\n"
            f"  GROUP BY doc_id HAVING count(DISTINCT term) = {len(s)})"
        )

    cand_rows = []
    for start, length, ws, _idx in phrases:
        if length <= mi:
            subs = [(start, length, ws)]
        else:
            subs = [
                (start + i, mi, ws[i:i + mi])
                for i in range(length - mi + 1)
            ]
        sub_terms = []
        conj_terms = [cj(ws)]
        for s_start, s_len, s_ws in subs:
            conj_terms.append(cj(s_ws))
            wraps = [
                f"CASE WHEN {cj(o_ws)} > 0 THEN "
                f"{ng(o_ws, 'df')} * 1.0 / {cj(o_ws)} ELSE 0 END"
                for o_start, o_len, o_ws, o_idx in phrases
                if o_idx and o_len > s_len and o_start <= s_start
                and s_start + s_len <= o_start + o_len
            ]
            w_expr = (
                f"GREATEST({', '.join(wraps)})" if wraps else "0.0"
            )
            ttfs = ", ".join(u(w) for w in s_ws)
            pp = f"({cj(ws)} * 1.0 / {cj(s_ws)})"
            sub_terms.append(
                f"(({ng(s_ws, 'ttf')} * 1.0 / LEAST({ttfs}))"
                f" * ({pp} - {w_expr})"
                f" - ({ng(s_ws, 'ttf')} * 1.0 / GREATEST({ttfs}))"
                f" * (1 - ({pp} - {w_expr})))"
            )
        absent = " OR ".join(f"{u(w)} <= 0" for w in ws)
        if length <= 1:
            score = (
                f"CASE WHEN {absent} THEN -1.0"
                f" WHEN {cj(ws)} <= 0 THEN -1.0 ELSE 0.0 END"
            )
        else:
            body = (
                f"(1.0 / {1 + mq - mi}) * "
                f"({cj(ws)} * 1.0 / GREATEST({', '.join(conj_terms)}))"
                f" * ({' + '.join(sub_terms)})"
            )
            score = (
                f"CASE WHEN {absent} THEN -1.0"
                f" WHEN {cj(ws)} <= 0 THEN -1.0 ELSE {body} END"
            )
        cand_rows.append(
            f"SELECT '{ngk(ws)}' AS phrase, {start} AS pos_start, "
            f"{length} AS pos_len, round({score}, 6) AS score"
        )

    return (
        f"WITH toks AS (\n"
        f"  SELECT doc_id, term, pos FROM (\n"
        f"    SELECT doc_id,"
        f" unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,\n"
        f"           unnest(range(0, len(regexp_extract_all(lower(text),"
        f" '[a-z0-9]+')))) AS pos\n"
        f"    FROM documents)\n"
        f"  WHERE term IN ({vlist})),\n"
        f"uni AS (SELECT term, count(*) AS ttf FROM toks GROUP BY term),\n"
        f"ng AS (\n" + "\nUNION ALL\n".join(ng_legs) + "),\n"
        f"conj AS (\n" + "\nUNION ALL\n".join(conj_legs) + ")\n"
        + "\nUNION ALL\n".join(cand_rows)
        + "\nORDER BY pos_start, pos_len"
    )


@gate("fts_phrases_identify", _phid_sql())
def fts_phrases_identify(spark, sf_dir):
    """PhrasesIdentificationComponent: every unigram/shingle candidate
    of the 4-word query scored with the reference's Bayesian
    words-as-a-phrase model — shingle ttf vs min/max word ttf,
    conjunction-ratio phrase probability, wrapper-phrase discounting,
    query-length scaling and rare-long-phrase penalty
    (PhrasesIdentificationComponent.java computeFieldScore:950-1085).
    Stats are three DataFrame aggregations over the term-pushed token
    relation; the driver sees only O(#candidates) scalars
    (search/phrasesid.py). The oracle recomputes structure-generated
    SQL for the same stats + formula independently."""
    from .search.phrasesid import phrases_identification

    out = phrases_identification(
        doc_tokens(spark, sf_dir), _PHID_WORDS,
        max_indexed=_PHID_MI, max_query=_PHID_MQ,
    )
    return out.select(
        "phrase", "pos_start", "pos_len",
        F.round("score", 6).alias("score"),
    ).orderBy("pos_start", "pos_len")


_DVSTATS_SQL = """
WITH v AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE CAST(round(value, 6) AS DECIMAL(28,6)) END AS x
  FROM events),
m AS (
  SELECT event_type,
         CAST(count(x) AS BIGINT) AS cnt,
         CAST(count(*) - count(x) AS BIGINT) AS missing,
         CAST(sum(x) AS DOUBLE) AS s1,
         CAST(sum(x * x) AS DOUBLE) AS s2
  FROM v GROUP BY event_type)
SELECT event_type, cnt, missing,
  round(s1 / cnt, 6) AS mean,
  round(s2 / cnt - (s1 / cnt) * (s1 / cnt), 6) AS variance
FROM m ORDER BY event_type"""


@gate("rel_dv_stats", _DVSTATS_SQL)
def rel_dv_stats(spark, sf_dir):
    """DocValuesStats / DocValuesStatsCollector (lucene/misc/.../
    search/DocValuesStats.java): per-group count, MISSING count (docs
    the field is absent from — synthesized deterministically as
    event_id % 7 == 0), mean, and population variance (variance
    accumulator / count, :131-134). Raw moments ride order-independent
    DECIMAL sums (the fn_eval_dist pattern) so the result is bit-stable
    under any partitioning; one hash-agg."""
    e = load(spark, sf_dir, "events")
    x = F.when(
        F.col("event_id") % 7 != 0,
        F.round(F.col("value"), 6).cast("decimal(28,6)"),
    )
    m = e.select("event_type", x.alias("x")).groupBy("event_type").agg(
        F.count("x").cast("long").alias("cnt"),
        (F.count("*") - F.count("x")).cast("long").alias("missing"),
        F.sum("x").cast("double").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("s2"),
    )
    n = F.col("cnt").cast("double")
    mean = F.col("s1") / n
    return m.select(
        "event_type",
        "cnt",
        "missing",
        F.round(mean, 6).alias("mean"),
        F.round(F.col("s2") / n - mean * mean, 6).alias("variance"),
    ).orderBy("event_type")


@gate(
    "fts_parsed_extended",
    f"""WITH {bm25_scored_cte(["spark"])},
req AS (SELECT doc_id, sum(term_score) AS s FROM scored GROUP BY doc_id),
pre AS (SELECT DISTINCT doc_id FROM toks WHERE term LIKE 'mer%')
SELECT r.doc_id,
       round(r.s + CASE WHEN pre.doc_id IS NOT NULL THEN 1.0 ELSE 0 END,
             4) AS score
FROM req r
JOIN documents d ON d.doc_id = r.doc_id
LEFT JOIN pre ON pre.doc_id = r.doc_id
WHERE d.n_chars BETWEEN 120 AND 180
ORDER BY score DESC, r.doc_id ASC LIMIT 10""",
)
def fts_parsed_extended(spark, sf_dir):
    """ExtendableQueryParser end-to-end: '+spark n_chars:range:120-180
    text:pre:mer' — the registered `range` extension turns its token
    into an inclusive stored-field range filter and `pre` into a
    constant-score dictionary prefix expansion, then the classic
    grammar parses the rewritten string (reference lucene/queryparser/
    .../ext/{{ExtendableQueryParser,Extensions}}.java — last-component
    field split, extension-built Query joins the BooleanQuery;
    search/extparser.py)."""
    from .search.extparser import rewrite_extended

    return _run_parsed2(
        spark, sf_dir,
        rewrite_extended("+spark n_chars:range:120-180 text:pre:mer"),
    )


def _run_parsed2(spark, sf_dir, q, k: int = 10):
    from .search.executor import execute_parsed

    tables = docs_index(spark, sf_dir)
    stored = load(spark, sf_dir, "documents")
    res = execute_parsed(
        q, tables, k=None, precision="double", stored=stored
    )
    return (
        res.withColumn("score", F.round("score", 4))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


_RANGEFIELD_SQL = """
WITH r AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice / 1000.0) * 1000 AS BIGINT) AS lo,
         CAST(floor(o_totalprice / 1000.0) * 1000
              + 500 + (o_orderkey % 1500) AS BIGINT) AS hi
  FROM orders WHERE o_orderkey <= 4000)
SELECT o_orderkey,
  CASE WHEN 100000 <= lo AND hi <= 150000 THEN 1 ELSE 0 END AS within,
  CASE WHEN lo <= 100000 AND hi >= 150000 THEN 1 ELSE 0 END AS contains,
  CASE WHEN NOT (100000 <= lo AND hi <= 150000) THEN 1 ELSE 0 END
    AS crosses
FROM r
WHERE lo <= 150000 AND hi >= 100000
ORDER BY o_orderkey"""


@gate("rel_range_fields", _RANGEFIELD_SQL)
def rel_range_fields(spark, sf_dir):
    """LongRange field queries — INTERSECTS / WITHIN / CONTAINS /
    CROSSES relations of per-doc [min,max] ranges against the query
    range [100000,150000] (reference lucene/core/.../document/
    RangeFieldQuery.java QueryType.matches:85-194 — INTERSECTS:
    doc.min<=q.max && doc.max>=q.min; WITHIN: q.min<=doc.min &&
    doc.max<=q.max; CONTAINS: doc.min<=q.min && doc.max>=q.max;
    CROSSES = INTERSECTS && !WITHIN, :190-193 — note a doc range that
    CONTAINS the query still crosses). Doc ranges are deterministic
    per-order price buckets; the intersects predicate prunes at the
    scan (two pushed comparisons, the BKD outer-bound analog), the
    relation flags are projection arithmetic."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 4000)
    lo = (F.floor(F.col("o_totalprice") / 1000.0) * 1000).cast("long")
    r = o.select(
        "o_orderkey",
        lo.alias("lo"),
        (lo + 500 + (F.col("o_orderkey") % 1500)).cast("long").alias("hi"),
    )
    ql, qh = F.lit(100000), F.lit(150000)
    within = (ql <= F.col("lo")) & (F.col("hi") <= qh)
    return (
        r.filter((F.col("lo") <= qh) & (F.col("hi") >= ql))
        .select(
            "o_orderkey",
            within.cast("int").alias("within"),
            ((F.col("lo") <= ql) & (F.col("hi") >= qh))
            .cast("int")
            .alias("contains"),
            (~within).cast("int").alias("crosses"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------- geo3d spherical polygon

_GEO3D_VERTS = [(30, -90), (30, -60), (45, -55), (55, -70), (50, -90)]


def _geo3d_normals():
    """Edge-plane normals of the counterclockwise spherical polygon —
    cross products of consecutive unit vertex vectors, computed once
    at module load in exact float64 and embedded as literals in BOTH
    engines (polygon vertices are query constants, like CIDR bounds)."""
    import math

    def v3(lat, lon):
        la, lo = math.radians(lat), math.radians(lon)
        return (
            math.cos(la) * math.cos(lo),
            math.cos(la) * math.sin(lo),
            math.sin(la),
        )

    vs = [v3(*p) for p in _GEO3D_VERTS]
    ns = []
    for i in range(len(vs)):
        a, b = vs[i], vs[(i + 1) % len(vs)]
        ns.append(
            (
                a[1] * b[2] - a[2] * b[1],
                a[2] * b[0] - a[0] * b[2],
                a[0] * b[1] - a[1] * b[0],
            )
        )
    return ns


def _geo3d_sql():
    conds = " AND ".join(
        f"({n[0]!r} * px + {n[1]!r} * py + {n[2]!r} * pz) >= 0"
        for n in _geo3d_normals()
    )
    return f"""
WITH pts AS (
  SELECT c_custkey,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer WHERE c_custkey <= 2048),
v AS (
  SELECT c_custkey, lat, lon,
         cos(radians(lat)) * cos(radians(lon)) AS px,
         cos(radians(lat)) * sin(radians(lon)) AS py,
         sin(radians(lat)) AS pz
  FROM pts)
SELECT c_custkey, lat, lon FROM v
WHERE {conds}
ORDER BY c_custkey"""


@gate("fn_geo3d_polygon", _geo3d_sql())
def fn_geo3d_polygon(spark, sf_dir):
    """geo3d GeoConvexPolygon membership (lucene/spatial3d): edges are
    GREAT CIRCLES, not planar segments — a point is inside iff it lies
    on the interior side of every edge plane, tested as the sign of
    the dot product with the plane normal (reference lucene/spatial3d/
    .../geom/GeoConvexPolygon.java isWithin — SidedPlane.isWithin per
    edge; Plane normal = cross of edge endpoints, PlanetModel SPHERE).
    The lat/lon → unit-vector conversion and the five sidedness dots
    are pure projection arithmetic over the pushed-down scan — no
    shuffle, no UDF; normals are query-constant literals identical in
    both engines."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 2048)
    pts = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7) % 180) - 90 + 0.5)
        .cast("double").alias("lat"),
        (((F.col("c_custkey") * 13) % 360) - 180 + 0.5)
        .cast("double").alias("lon"),
    )
    la, lo = F.radians("lat"), F.radians("lon")
    px = F.cos(la) * F.cos(lo)
    py = F.cos(la) * F.sin(lo)
    pz = F.sin(la)
    cond = F.lit(True)
    for n in _geo3d_normals():
        cond = cond & (
            (F.lit(n[0]) * px + F.lit(n[1]) * py + F.lit(n[2]) * pz) >= 0
        )
    return pts.filter(cond).select("c_custkey", "lat", "lon").orderBy(
        "c_custkey"
    )


# ------------------------------------- WGS84 ellipsoid surface distance


def _vincenty_sql() -> str:
    """Mirror of PlanetModel.surfaceDistance (Vincenty inverse,
    PlanetModel.java:281-338) as chained CTEs — one per unrolled
    lambda iteration, same fixed 8 rounds as the Spark side."""
    from .operators.spatial import (
        _W84_C,
        _W84_FLATTENING,
        _W84_INV_SCALE,
        _W84_SQUARE_RATIO,
    )

    f = _W84_FLATTENING
    base = """
WITH pts AS (
  SELECT c_custkey,
         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 13) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer WHERE c_custkey <= 512),
u AS (
  SELECT c_custkey, lat, lon,
         radians(-74.0) - radians(lon) AS L,
         atan({omf!r} * tan(radians(lat))) AS U1,
         atan({omf!r} * tan(radians(40.0))) AS U2
  FROM pts),
t AS (
  SELECT *, sin(U1) AS sU1, cos(U1) AS cU1,
         sin(U2) AS sU2, cos(U2) AS cU2 FROM u),
base AS (
  SELECT *, cU1 * cU2 AS cc, cU1 * sU2 AS cs,
         sU1 * sU2 AS ss, sU1 * cU2 AS sc, L AS lam FROM t)""".format(
        omf=1.0 - f
    )
    it = """
it{i} AS (
  SELECT c_custkey, lat, lon, L, cc, cs, ss, sc, cU1, cU2,
         sinSig, cosSig, sig, cosSqAl, c2sm,
         L + (1.0 - C) * {f!r} * sinAl *
             (sig + C * sinSig * (c2sm + C * cosSig *
                  (-1.0 + 2.0 * c2sm * c2sm))) AS lam
  FROM (
    SELECT *,
           CASE WHEN isnan(cosSig - 2.0 * ss / cosSqAl) THEN 0.0
                ELSE cosSig - 2.0 * ss / cosSqAl END AS c2sm,
           {f_16!r} * cosSqAl *
             (4.0 + {f!r} * (4.0 - 3.0 * cosSqAl)) AS C
    FROM (
      SELECT *, atan2(sinSig, cosSig) AS sig,
             1.0 - sinAl * sinAl AS cosSqAl
      FROM (
        SELECT *, cc * sl / sinSig AS sinAl
        FROM (
          SELECT *,
                 sqrt((cU2 * sl) * (cU2 * sl)
                      + (cs - sc * cl) * (cs - sc * cl)) AS sinSig,
                 ss + cc * cl AS cosSig
          FROM (SELECT *, sin(lam) AS sl, cos(lam) AS cl
                FROM (SELECT c_custkey, lat, lon, L, cc, cs, ss, sc,
                             cU1, cU2, lam FROM {prev}))))))),"""
    ctes = [base + ","]
    prev = "base"
    for i in range(8):
        ctes.append(
            it.format(i=i, f=f, f_16=f / 16.0, prev=prev).rstrip(",")
            + ","
        )
        prev = f"it{i}"
    fin = """
fin AS (
  SELECT c_custkey, lat, lon, sinSig, cosSig, sig, c2sm,
         cosSqAl * {sq!r} AS uSq
  FROM {prev})
SELECT c_custkey, lat, lon,
  round({cinv!r} *
    (1.0 + uSq / 16384.0 * (4096.0 + uSq *
         (-768.0 + uSq * (320.0 - 175.0 * uSq))))
    * (sig - (uSq / 1024.0 * (256.0 + uSq *
         (-128.0 + uSq * (74.0 - 47.0 * uSq))))
       * sinSig * (c2sm + (uSq / 1024.0 * (256.0 + uSq *
             (-128.0 + uSq * (74.0 - 47.0 * uSq)))) / 4.0 *
           (cosSig * (-1.0 + 2.0 * c2sm * c2sm)
            - (uSq / 1024.0 * (256.0 + uSq *
                 (-128.0 + uSq * (74.0 - 47.0 * uSq)))) / 6.0 * c2sm
              * (-3.0 + 4.0 * sinSig * sinSig)
              * (-3.0 + 4.0 * c2sm * c2sm)))), 6) AS dist_scaled
FROM fin ORDER BY c_custkey""".format(
        sq=_W84_SQUARE_RATIO, cinv=_W84_C * _W84_INV_SCALE, prev=prev
    )
    return "".join(ctes) + fin


@gate("fn_geo_vincenty", _vincenty_sql())
def fn_geo_vincenty(spark, sf_dir):
    """WGS84 ellipsoid geodesic distance — PlanetModel.surfaceDistance
    (reference lucene/spatial3d/.../geom/PlanetModel.java:281-338,
    WGS84 constants :34-41, normalization :92-108): Vincenty's
    inverse formula with the lambda loop unrolled to 8 fixed rounds
    (converges <1e-12 on this non-antipodal fixture; see
    operators/spatial.py with_vincenty_distance).  The ONLY geo3d
    quantity the flattening changes for this engine's shapes:
    through-origin edge-plane sidedness (polygon membership) is
    scale-invariant, so fn_geo3d_polygon's sphere result already IS
    the WGS84 result — declared divergence closed.  Pure codegen
    Column arithmetic over the pushed-down scan, no shuffle; an
    independently-written Vincenty (different formulation source) and
    the published Vincenty test vector pin the value in
    tests/test_spatial_wgs84.py."""
    from .operators.spatial import with_vincenty_distance

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 512)
    pts = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7) % 180) - 90 + 0.5)
        .cast("double").alias("lat"),
        (((F.col("c_custkey") * 13) % 360) - 180 + 0.5)
        .cast("double").alias("lon"),
    )
    out = with_vincenty_distance(
        pts, F.col("lat"), F.col("lon"), F.lit(40.0), F.lit(-74.0)
    )
    return out.select(
        "c_custkey",
        "lat",
        "lon",
        F.round("vincenty_scaled", 6).alias("dist_scaled"),
    ).orderBy("c_custkey")


# --------------------------- index-time synonym graphs (round 5)

_SG_RULES = [
    "merge join => mergejoin",
    "vector => vec",
]

_SG_TOKS = """
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                + 1)) AS pos
  FROM documents"""

# With single-token outputs and keepOrig=true, the graph's node ids
# coincide with token positions (each match allocates exactly
# matchInputLength nodes — the original side path re-uses them), so the
# oracle derives nodes directly from positions; the inputs share no
# tokens and cannot self-overlap, so greedy matching == all matches.
_SG_TOKENS_SQL = f"""
WITH toks AS ({_SG_TOKS})
SELECT doc_id, term, CAST(pos - 1 AS BIGINT) AS node,
       CAST(1 AS BIGINT) AS pos_len, 0 AS is_syn
FROM toks
UNION ALL
SELECT a.doc_id, 'mergejoin' AS term, CAST(a.pos - 1 AS BIGINT),
       CAST(2 AS BIGINT), 1
FROM toks a JOIN toks b
  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.term = 'merge' AND b.term = 'join'
UNION ALL
SELECT doc_id, 'vec' AS term, CAST(pos - 1 AS BIGINT),
       CAST(1 AS BIGINT), 1
FROM toks WHERE term = 'vector'
ORDER BY doc_id, node, is_syn, term"""


def _sg_graphs(spark, sf_dir):
    from .analysis.syngraph import (
        parse_synonym_rules,
        synonym_graph,
        tokenize_offsets,
    )

    rules = parse_synonym_rules(_SG_RULES)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                g = synonym_graph(tokenize_offsets(text or ""), rules)
                for term, sn, en, _s, _e, syn in g:
                    rows.append((doc_id, term, sn, en - sn, int(syn)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "term", "node", "pos_len", "is_syn"],
            )

    return docs.mapInPandas(
        run,
        "doc_id long, term string, node long, pos_len long, is_syn int",
    )


@gate("fts_syngraph_tokens", _SG_TOKENS_SQL)
def fts_syngraph_tokens(spark, sf_dir):
    """SynonymGraphFilter index-time token graph (reference
    lucene/analysis/common/.../synonym/SynonymGraphFilter.java): the
    greedy longest-match scan inserts synonym side paths with
    positionLength spanning the match — 'merge join' gains a
    posLen-2 'mergejoin' ring, 'vector' a posLen-1 'vec' ring, and
    original tokens keep their path (keepOrig).  The full node-
    allocation algorithm (bufferOutputTokens) is pinned token-for-
    token by the reference JUnit vectors in tests/test_syngraph.py
    (incl. multi-word outputs and longest-match fallback the SQL
    oracle cannot express); this gate hashes the whole corpus's graph
    (analysis/syngraph.py, Arrow-batched narrow map — no shuffle)."""
    return _sg_graphs(spark, sf_dir).orderBy(
        "doc_id", "node", "is_syn", "term"
    )


_SG_PHRASES = {
    # phrase -> ("via 1-token synonym", "via 2-token synonym", orig)
    "vec_hash": ("vec", "hash"),
    "mergejoin_table": ("mergejoin", "table"),
    "merge_join_table": ("merge", "join", "table"),
}

_SG_PHRASE_SQL = f"""
WITH toks AS ({_SG_TOKS}),
m AS (
  SELECT DISTINCT a.doc_id, 'vec_hash' AS phrase
  FROM toks a JOIN toks b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'vector' AND b.term = 'hash'
  UNION
  SELECT DISTINCT a.doc_id, 'mergejoin_table'
  FROM toks a JOIN toks b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
  WHERE a.term = 'merge' AND b.term = 'join' AND c.term = 'table'
  UNION
  SELECT DISTINCT a.doc_id, 'merge_join_table'
  FROM toks a JOIN toks b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
  WHERE a.term = 'merge' AND b.term = 'join' AND c.term = 'table')
SELECT doc_id, phrase FROM m ORDER BY doc_id, phrase"""


@gate("fts_phrase_over_synonym", _SG_PHRASE_SQL)
def fts_phrase_over_synonym(spark, sf_dir):
    """Phrase matching THROUGH the synonym graph: a query phrase
    matches when a node path exists with each term spanning
    (n_{k-1} -> n_k) — posLength-aware adjacency, so 'vec hash'
    reaches docs that only say 'vector hash' and 'mergejoin table'
    docs that only say 'merge join table' (the 2-position synonym's
    end node lands on 'table'); the original-path phrase still
    matches identically (graph_phrase_match, analysis/syngraph.py —
    the SpanNear-over-graph semantics index-time posLen preserves).
    Oracle expands the query against the same rules relationally."""
    from .analysis.syngraph import (
        graph_phrase_match,
        parse_synonym_rules,
        synonym_graph,
        tokenize_offsets,
    )

    rules = parse_synonym_rules(_SG_RULES)
    phrases = dict(_SG_PHRASES)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                g = synonym_graph(tokenize_offsets(text or ""), rules)
                for name, terms in phrases.items():
                    if graph_phrase_match(g, list(terms)):
                        rows.append((doc_id, name))
            yield pd.DataFrame(rows, columns=["doc_id", "phrase"])

    return docs.mapInPandas(
        run, "doc_id long, phrase string"
    ).orderBy("doc_id", "phrase")


_SYNQ_TERMS = ["fast", "slow"]

_SYNQ_SQL = f"""
WITH toks AS ({_TOKS}),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nt(lo, hi, qdl) AS (VALUES {_NORM_VALUES}),
qd AS (SELECT dl.doc_id, nt.qdl FROM dl
       JOIN nt ON dl.dl BETWEEN nt.lo AND nt.hi),
stats AS (SELECT count(*) AS doc_count, sum(dl) AS sum_ttf FROM dl),
tf AS (SELECT doc_id, count(*) AS freq FROM toks
       WHERE term IN ('fast', 'slow') GROUP BY doc_id),
pdf AS (SELECT max(df) AS df FROM (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN ('fast', 'slow') GROUP BY term))
SELECT tf.doc_id,
  round(ln(1 + (s.doc_count - pdf.df + 0.5) / (pdf.df + 0.5))
        * (tf.freq / (tf.freq + 1.2 * (1.0 - 0.75
           + 0.75 * qd.qdl / (s.sum_ttf / s.doc_count)))), 4) AS score
FROM tf
JOIN qd ON qd.doc_id = tf.doc_id
CROSS JOIN stats s CROSS JOIN pdf
ORDER BY score DESC, tf.doc_id ASC LIMIT 10"""


@gate("fts_synonym_query", _SYNQ_SQL)
def fts_synonym_query(spark, sf_dir):
    """SynonymQuery('fast','slow'): all terms score as ONE pseudo-term
    — docFreq = MAX over the terms' dfs, per-doc freq = SUM of the
    terms' freqs, the similarity invoked once (reference lucene/core/
    .../search/SynonymQuery.java:52-53,204-217 — pseudoStats with
    max df; SynonymScorer sums freqs). Evaluated off the index tables:
    one pruned dictionary lookup for the pseudo-df (driver scalar, the
    TermStates pull), term-pushed postings summed per doc, broadcast
    norm join, global top-10 on the rounded score."""
    tables = docs_index(spark, sf_dir)
    from .search.scoring import norm_cache

    d = (
        tables.dictionary.filter(F.col("term").isin(_SYNQ_TERMS))
        .agg(F.max("df").alias("df"))
        .collect()[0]
    )
    pdf = int(d["df"])
    n, t = tables.doc_count, tables.sum_total_term_freq
    import math

    idf = math.log(1 + (n - pdf + 0.5) / (pdf + 0.5))
    cache = norm_cache(t, n, 1.2, 0.75, "double")
    cache_df = tables.postings.sparkSession.createDataFrame(
        [(i, float(cache[i])) for i in range(256)],
        "norm_byte int, norm_val double",
    )
    tf = (
        tables.postings.filter(F.col("term").isin(_SYNQ_TERMS))
        .groupBy("doc_id", "norm_byte")
        .agg(F.sum("freq").alias("freq"))
    )
    scored = (
        tf.join(F.broadcast(cache_df), "norm_byte")
        .select(
            "doc_id",
            F.round(
                F.lit(idf)
                * (
                    F.col("freq")
                    / (F.col("freq") + F.col("norm_val"))
                ),
                4,
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


@gate(
    "fts_interval_phrase",
    _span_score_sql(
        ["table", "part", "value"],
        """sf AS (
  SELECT a.doc_id, count(*) AS span_freq
  FROM tok a JOIN tok b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term IN ('table', 'part') AND b.term = 'value'
  GROUP BY a.doc_id)""",
    ),
)
def fts_interval_phrase(spark, sf_dir):
    """Intervals.phrase(or(table, part), value) — BlockIntervalsSource:
    sub-sources strictly contiguous, each interval starting right
    after the previous ends (reference Intervals.java:83-102,
    BlockIntervalsSource.java; search/intervals.py 'block' chain over
    antichain starts). All width-2 blocks are mutually minimal, so
    span_freq = the adjacency count."""
    from .search.intervals import any_of, phrase

    return _iv(spark, sf_dir, phrase(any_of("table", "part"), "value"))


@gate(
    "fts_interval_at_least",
    _span_score_sql(
        ["spark", "merge", "vector"],
        """cand AS (
  SELECT a.doc_id, least(a.pos, b.pos) AS lo, greatest(a.pos, b.pos) AS hi
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id
  WHERE (a.term = 'spark' AND b.term = 'merge')
     OR (a.term = 'spark' AND b.term = 'vector')
     OR (a.term = 'merge' AND b.term = 'vector')),
mins AS (SELECT DISTINCT doc_id, lo, hi FROM cand c
         WHERE NOT EXISTS (SELECT 1 FROM cand d
               WHERE d.doc_id = c.doc_id AND d.lo >= c.lo AND d.hi <= c.hi
                 AND (d.lo > c.lo OR d.hi < c.hi))),
sf AS (SELECT doc_id, count(*) AS span_freq FROM mins GROUP BY doc_id)""",
    ),
)
def fts_interval_at_least(spark, sf_dir):
    """Intervals.atLeast(2, spark, merge, vector) —
    MinimumShouldMatchIntervalsSource: minimal windows spanning
    intervals from >= 2 of the 3 sources = the minimalized union of
    every pair's unordered windows (reference Intervals.java:357-359,
    MinimumShouldMatchIntervalsSource.java; search/intervals.py
    'at_least' n-subset sweep)."""
    from .search.intervals import at_least

    return _iv(spark, sf_dir, at_least(2, "spark", "merge", "vector"))


@gate(
    "fts_interval_within",
    _span_score_sql(
        ["big", "join", "hash"],
        _ordered_minimal_cte("join", "hash") + """,
sf AS (
  SELECT t.doc_id, count(*) AS span_freq
  FROM tok t
  WHERE t.term = 'big'
    AND EXISTS (SELECT 1 FROM minimal m
                WHERE m.doc_id = t.doc_id
                  AND m.pa - 2 <= t.pos AND t.pos <= m.pb + 2)
  GROUP BY t.doc_id)""",
    ),
)
def fts_interval_within(spark, sf_dir):
    """Intervals.within(big, 2, ordered(join, hash)): 'big' occurrences
    within 2 positions of a minimal ordered join..hash interval —
    containedBy(src, extend(ref, 2, 2)) per the reference's definition
    (Intervals.java:300-303; search/intervals.py 'within')."""
    from .search.intervals import ordered, within

    return _iv(spark, sf_dir, within("big", 2, ordered("join", "hash")))


_PF_SQL = f"""WITH {bm25_scored_cte(["table", "hash"])},
base AS (SELECT doc_id, sum(term_score) AS s FROM scored GROUP BY doc_id),
tokp AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS pos
  FROM documents),
adj AS (SELECT a.doc_id, count(*) AS pf
        FROM tokp a JOIN tokp b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        WHERE a.term = 'table' AND b.term = 'hash'
        GROUP BY a.doc_id),
widf AS (SELECT sum(ln(1 + (st.doc_count - d.df + 0.5) / (d.df + 0.5)))
           AS w
         FROM dfs d CROSS JOIN stats st),
ph AS (SELECT adj.doc_id,
              2.0 * w.w * (adj.pf / (adj.pf
                + 1.2 * (1.0 - 0.75
                   + 0.75 * qd.qdl / (st.sum_ttf / st.doc_count)))) AS psc
       FROM adj JOIN qd ON qd.doc_id = adj.doc_id
       CROSS JOIN stats st CROSS JOIN widf w)
SELECT b.doc_id, round(b.s + coalesce(ph.psc, 0), 4) AS score
FROM base b LEFT JOIN ph ON ph.doc_id = b.doc_id
ORDER BY b.doc_id"""


@gate("fts_edismax_pf", _PF_SQL)
def fts_edismax_pf(spark, sf_dir):
    """ExtendedDisMax pf (phrase fields): the analyzed query 'table
    hash' adds an optional PhraseQuery boost clause (boost 2.0, ps=0)
    on top of the per-term disjunction — docs where the whole query
    appears as a phrase gain the phrase clause's BM25 score (reference
    solr/core/.../search/ExtendedDismaxQParser.java:1100-1180
    addShingledPhraseQueries / getQuery pf handling — phrase clauses
    join the main BooleanQuery as SHOULD). Term scores ride the flat
    impact postings; the phrase clause rides the positional blocks;
    one broadcast-joined union, no extra shuffle beyond the span
    leaf."""
    from .gate import docs_pos_index
    from .search.edismax import edismax
    from .search.phrase import search_phrase

    base = edismax(
        {"body": docs_index(spark, sf_dir)},
        ["table", "hash"],
        qf={"body": 1.0},
        tie=0.0,
        k=None,
        precision="double",
    )
    ph = search_phrase(
        docs_pos_index(spark, sf_dir),
        ["table", "hash"],
        slop=0,
        k=None,
        boost=2.0,
        precision="double",
    ).select("doc_id", F.col("score").alias("psc"))
    return (
        base.join(ph, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.col("score") + F.coalesce(F.col("psc"), F.lit(0.0)), 4
            ).alias("score"),
        )
        .orderBy("doc_id")
    )


_IV_PREFIX_SQL = f"""WITH {_SPAN_CTE},
bp AS (SELECT doc_id, pos AS pb FROM tok WHERE term = 'table'),
pr AS (SELECT x.doc_id, x.pb,
              (SELECT max(a.pos) FROM tok a
               WHERE a.doc_id = x.doc_id AND a.term LIKE 's%'
                 AND a.pos < x.pb) AS pa
       FROM bp x),
minimal AS (SELECT doc_id, pa, pb FROM pr
            WHERE pa IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM tok c
                              WHERE c.doc_id = pr.doc_id
                                AND c.term = 'table'
                                AND c.pos > pr.pa AND c.pos < pr.pb)),
sf AS (SELECT doc_id, count(*) AS span_freq FROM minimal
       GROUP BY doc_id),
widf AS (SELECT sum(ln(1 + (st.doc_count - d.df + 0.5) / (d.df + 0.5)))
           AS w
         FROM (SELECT term, count(DISTINCT doc_id) AS df FROM tok
               WHERE term LIKE 's%' OR term = 'table'
               GROUP BY term) d
         CROSS JOIN stats st)
SELECT s.doc_id, CAST(s.span_freq AS BIGINT) AS span_freq,
  round(w.w * (s.span_freq / (s.span_freq
        + 1.2 * (1.0 - 0.75
                 + 0.75 * qd.qdl / (st.sum_ttf / st.doc_count)))), 4)
    AS score
FROM sf s JOIN qd ON qd.doc_id = s.doc_id
CROSS JOIN stats st CROSS JOIN widf w
ORDER BY s.doc_id"""


@gate("fts_interval_prefix", _IV_PREFIX_SQL)
def fts_interval_prefix(spark, sf_dir):
    """Intervals.ordered(Intervals.prefix('s'), table): the prefix leaf
    expands over the term dictionary to a disjunction at query build
    (reference Intervals.java:155-160, MultiTermIntervalsSource.java —
    automaton ∩ terms enum), then the standard minimal ordered
    evaluation runs; idf sums over every expanded term + 'table'
    (search/intervals.py expand_multiterm — one prefix-filtered
    driver-side dictionary scan, the expansion never touches postings
    it doesn't match)."""
    from .search.intervals import ordered, prefix

    return _iv(spark, sf_dir, ordered(prefix("s"), "table"))


_PF2_SQL = f"""WITH {bm25_scored_cte(["table", "hash", "value"])},
base AS (SELECT doc_id, sum(term_score) AS s FROM scored GROUP BY doc_id),
tokp AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS pos
  FROM documents),
adj AS (SELECT a.doc_id,
               CASE WHEN a.term = 'table' THEN 'table hash'
                    ELSE 'hash value' END AS bg,
               count(*) AS pf
        FROM tokp a JOIN tokp b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        WHERE (a.term = 'table' AND b.term = 'hash')
           OR (a.term = 'hash' AND b.term = 'value')
        GROUP BY a.doc_id, bg),
bgidf AS (SELECT 'table hash' AS bg,
                 sum(ln(1 + (st.doc_count - d.df + 0.5) / (d.df + 0.5)))
                   AS w
          FROM dfs d CROSS JOIN stats st
          WHERE d.term IN ('table', 'hash')
          GROUP BY bg
          UNION ALL
          SELECT 'hash value' AS bg,
                 sum(ln(1 + (st.doc_count - d.df + 0.5) / (d.df + 0.5)))
                   AS w
          FROM dfs d CROSS JOIN stats st
          WHERE d.term IN ('hash', 'value')
          GROUP BY bg),
ph AS (SELECT adj.doc_id,
              sum(1.5 * i.w * (adj.pf / (adj.pf
                + 1.2 * (1.0 - 0.75
                   + 0.75 * qd.qdl / (st.sum_ttf / st.doc_count)))))
                AS psc
       FROM adj JOIN bgidf i USING (bg)
       JOIN qd ON qd.doc_id = adj.doc_id
       CROSS JOIN stats st
       GROUP BY adj.doc_id)
SELECT b.doc_id, round(b.s + coalesce(ph.psc, 0), 4) AS score
FROM base b LEFT JOIN ph ON ph.doc_id = b.doc_id
ORDER BY b.doc_id"""


@gate("fts_edismax_pf2", _PF2_SQL)
def fts_edismax_pf2(spark, sf_dir):
    """ExtendedDisMax pf2 (bigram phrase fields): the analyzed query
    'table hash value' is SHINGLED into bigram phrases 'table hash'
    and 'hash value', each joining the main BooleanQuery as an
    optional boost-1.5 PhraseQuery (reference solr/core/.../search/
    ExtendedDismaxQParser.java addShingledPhraseQueries — pf2 builds
    2-shingles of the query clauses; pf3 the same with 3). Same plan
    as pf: flat-postings term scores + two positional-block span
    leaves, broadcast-joined."""
    from .gate import docs_pos_index
    from .search.edismax import edismax
    from .search.phrase import search_phrase

    base = edismax(
        {"body": docs_index(spark, sf_dir)},
        ["table", "hash", "value"],
        qf={"body": 1.0},
        tie=0.0,
        k=None,
        precision="double",
    )
    pos = docs_pos_index(spark, sf_dir)
    phs = None
    for bg in (["table", "hash"], ["hash", "value"]):
        p = search_phrase(
            pos, bg, slop=0, k=None, boost=1.5, precision="double"
        ).select("doc_id", F.col("score").alias("psc"))
        phs = p if phs is None else phs.unionByName(p)
    ph = phs.groupBy("doc_id").agg(F.sum("psc").alias("psc"))
    return (
        base.join(ph, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.col("score") + F.coalesce(F.col("psc"), F.lit(0.0)), 4
            ).alias("score"),
        )
        .orderBy("doc_id")
    )


_HYP3_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "fixtures_data",
    "hyp_tests3.parquet",
)


@gate(
    "fn_eval_tests4",
    f"""
SELECT pair_id, round(paired_p, 6) AS paired_p,
       round(gtest_p, 6) AS gtest_p,
       round(mean_diff, 6) AS mean_diff,
       round(sum_diff, 6) AS sum_diff
FROM read_parquet('{_HYP3_FIXTURE}')
ORDER BY pair_id""",
)
def fn_eval_tests4(spark, sf_dir):
    """Paired-sample inference evaluators — pairedTtest (one-sample t
    over pairwise differences through the t survival), gtestDataSet
    (G = 2N[H(rows)+H(cols)−H(cells)] log-likelihood ratio, chi-square
    survival), meanDifference and sumDifference (reference
    solr/solrj/.../io/eval/{{PairedTTest,GTestDataSet,MeanDifference,
    SumDifference}}Evaluator.java — commons-math3 wrappers): computed
    LIVE by the Arrow UDF over the fixture's samples; the oracle reads
    values frozen from the REAL commons-math3 in Spark's JVM with
    <1e-10 Python/JVM parity asserted at fixture build
    (scripts/make_hyptests3_fixture.py), at 6dp."""
    from .functions.evaluators import hyptests3_udf

    fix = spark.read.parquet(_HYP3_FIXTURE).select(
        "pair_id", "xs", "ys", "c1", "c2"
    )
    out = hyptests3_udf()(
        F.col("xs"), F.col("ys"), F.col("c1"), F.col("c2")
    )
    return fix.select(
        "pair_id",
        F.round(out["paired_p"], 6).alias("paired_p"),
        F.round(out["gtest_p"], 6).alias("gtest_p"),
        F.round(out["mean_diff"], 6).alias("mean_diff"),
        F.round(out["sum_diff"], 6).alias("sum_diff"),
    ).orderBy("pair_id")


_KNNREG_SQL = """
WITH obs AS (
  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1
           AS idx,
         CAST(l_quantity AS DOUBLE) AS f1,
         CAST(l_discount * 100 AS DOUBLE) AS f2,
         CAST(l_linenumber * 7 AS DOUBLE) AS f3,
         CAST(l_extendedprice AS DOUBLE) AS outcome
  FROM lineitem
  ORDER BY l_orderkey, l_linenumber LIMIT 200),
q AS (
  SELECT o_orderkey AS qid,
         CAST(o_orderkey % 50 AS DOUBLE) AS f1,
         CAST((o_orderkey * 3) % 10 AS DOUBLE) AS f2,
         CAST((o_orderkey % 7) * 7 AS DOUBLE) AS f3
  FROM orders WHERE o_orderkey <= 32),
d AS (
  SELECT q.qid, obs.idx, obs.outcome,
         sqrt((obs.f1 - q.f1) * (obs.f1 - q.f1)
              + (obs.f2 - q.f2) * (obs.f2 - q.f2)
              + (obs.f3 - q.f3) * (obs.f3 - q.f3)) AS dist
  FROM q CROSS JOIN obs),
r AS (
  SELECT qid, outcome,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dist ASC, idx ASC) AS rk
  FROM d)
SELECT qid, round(avg(outcome), 6) AS pred,
       round(median(outcome), 6) AS pred_robust
FROM r WHERE rk <= 5
GROUP BY qid ORDER BY qid"""


@gate("fn_knn_regress", _KNNREG_SQL)
def fn_knn_regress(spark, sf_dir):
    """knnRegress + predict: mean (and robust=true median) of the k=5
    nearest observations' outcomes by Euclidean distance, ties by
    observation index asc (reference solr/solrj/.../io/eval/
    KnnRegressionEvaluator.java predict:221-249,
    KnnEvaluator.Neighbor.compareTo:146-152). Distance join + rank
    window + one agg (functions/evaluators.py knn_regress)."""
    from .functions.evaluators import knn_regress

    li = load(spark, sf_dir, "lineitem")
    # deterministic 200-observation fixture WITHOUT a global rank
    # window: orderBy().limit() compiles to TakeOrderedAndProject
    # (per-partition top-k + tiny merge), and the 200 scalars come to
    # the driver once — the same bounded-pull pattern as MLT term
    # selection. idx = position in (l_orderkey, l_linenumber) order.
    picked = (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("f1"),
            (F.col("l_discount") * 100).cast("double").alias("f2"),
            (F.col("l_linenumber") * 7).cast("double").alias("f3"),
            F.col("l_extendedprice").cast("double").alias("outcome"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(200)
        .collect()
    )
    obs = spark.createDataFrame(
        [
            (i, r["f1"], r["f2"], r["f3"], r["outcome"])
            for i, r in enumerate(picked)
        ],
        "idx int, f1 double, f2 double, f3 double, outcome double",
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 32)
    q = o.select(
        F.col("o_orderkey").alias("qid"),
        (F.col("o_orderkey") % 50).cast("double").alias("f1"),
        ((F.col("o_orderkey") * 3) % 10).cast("double").alias("f2"),
        ((F.col("o_orderkey") % 7) * 7).cast("double").alias("f3"),
    )
    out = knn_regress(obs, q, k=5)
    return out.select(
        "qid",
        F.round("pred", 6).alias("pred"),
        F.round("pred_robust", 6).alias("pred_robust"),
    ).orderBy("qid")


_KNNCLS_DOC = 1
_KNNCLS_K = 10

_KNNCLS_SQL = f"""
WITH toks AS ({_TOKS}),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nt(lo, hi, qdl) AS (VALUES {_NORM_VALUES}),
qd AS (SELECT dl.doc_id, nt.qdl FROM dl
       JOIN nt ON dl.dl BETWEEN nt.lo AND nt.hi),
stats AS (SELECT count(*) AS doc_count, sum(dl) AS sum_ttf FROM dl),
nd AS (SELECT count(*) AS n FROM documents),
qtf AS (SELECT term, count(*) AS tf FROM toks
        WHERE doc_id = {_KNNCLS_DOC} GROUP BY term),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
sel AS (SELECT qtf.term, dfs.df,
               round(qtf.tf * (ln(nd.n / (dfs.df + 1.0)) + 1.0), 4)
                 AS mlt_score
        FROM qtf JOIN dfs USING (term) CROSS JOIN nd
        WHERE qtf.tf >= 2 AND dfs.df >= 5),
top AS (SELECT term, df, mlt_score FROM sel
        ORDER BY mlt_score DESC, term ASC LIMIT 10),
bmax AS (SELECT max(mlt_score) AS m FROM top),
tfq AS (SELECT t.doc_id, t.term, count(*) AS freq
        FROM toks t JOIN top USING (term) GROUP BY t.doc_id, t.term),
scored AS (
  SELECT tfq.doc_id,
         sum((top.mlt_score / bm.m)
             * ln(1 + (s.doc_count - top.df + 0.5) / (top.df + 0.5))
             * (tfq.freq / (tfq.freq
                + 1.2 * (1.0 - 0.75
                   + 0.75 * qd.qdl / (s.sum_ttf / s.doc_count)))))
           AS score
  FROM tfq
  JOIN top USING (term)
  JOIN qd ON qd.doc_id = tfq.doc_id
  CROSS JOIN stats s CROSS JOIN bmax bm
  GROUP BY tfq.doc_id),
topdocs AS (
  SELECT doc_id, score FROM (
    SELECT doc_id, round(score, 4) AS score,
           row_number() OVER (ORDER BY round(score, 4) DESC,
                              doc_id ASC) AS rk
    FROM scored) WHERE rk <= {_KNNCLS_K}),
mx AS (SELECT max(score) AS m FROM topdocs),
nh AS (SELECT count(*) AS n FROM topdocs)
SELECT d.lang AS label, CAST(count(*) AS BIGINT) AS cnt,
       round(sum(t.score / mx.m)
             / (CASE WHEN max(nh.n) < {_KNNCLS_K} THEN max(nh.n)
                     ELSE {_KNNCLS_K} END), 6) AS vote
FROM topdocs t
JOIN documents d ON d.doc_id = t.doc_id
CROSS JOIN mx CROSS JOIN nh
GROUP BY d.lang ORDER BY label"""


@gate("ml_knn_classifier", _KNNCLS_SQL)
def ml_knn_classifier(spark, sf_dir):
    """KNearestNeighborClassifier (lucene/classification): the query
    text's MLT interesting terms (tf>=2, df>=5, tf·idf top-10) become
    a BOOSTED disjunction — each term boosted by mlt_score/best
    (mlt.setBoost(true), KNearestNeighborClassifier.knnSearch:159-180)
    — whose BM25 top-k=10 hits vote by class: per class,
    score = Σ(hit_score/maxScore) / k, with the sumdoc<k correction
    (buildListFromTopDocs:190-231). Rank cut on the rounded score so
    both engines agree at the window boundary. MLT selection is a
    driver pull of <=10 (term, boost) scalars — the reference's
    like(text) — and everything else is the pinned BM25 plan + one
    broadcast class join + one hash-agg."""
    tables = docs_index(spark, sf_dir)
    from .search.mlt import mlt_terms

    sel = mlt_terms(tables, _KNNCLS_DOC, 2, 5, 10)
    rows = (
        sel.select("term", "mlt_score")
        .orderBy(F.desc("mlt_score"), F.asc("term"))
        .limit(10)
        .collect()
    )
    best = max(r["mlt_score"] for r in rows)
    terms = [r["term"] for r in rows]
    boosts = {r["term"]: float(r["mlt_score"]) / best for r in rows}

    scored = search_bruteforce(
        tables, terms, "disjunctive", k=None, boost=boosts,
        precision="double",
    )
    # plain global top-k: orderBy().limit(k) compiles to
    # TakeOrderedAndProject (per-partition top-k + tiny merge) — same
    # cut as a rank window on (score desc, doc_id asc), no single-task
    # global sort (TopDocs.merge:188-215 shape)
    top = (
        scored.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_KNNCLS_K)
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    j = top.join(F.broadcast(docs), "doc_id")
    mx = top.agg(F.max("score").alias("m")).collect()[0]["m"]
    nh = top.count()
    denom = float(nh if nh < _KNNCLS_K else _KNNCLS_K)
    return (
        j.groupBy(F.col("lang").alias("label"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.round(
                F.sum(F.col("score") / F.lit(float(mx))) / denom, 6
            ).alias("vote"),
        )
        .orderBy("label")
    )


_FACET_DOMAIN_SQL = """
SELECT l.l_returnflag AS flag,
       CAST(count(*) AS BIGINT) AS cnt,
       round(CAST(sum(CAST(l.l_quantity AS DECIMAL(8,2))) AS DOUBLE), 2)
         AS qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_returnflag ORDER BY flag"""


@gate("rel_facet_domain", _FACET_DOMAIN_SQL)
def rel_facet_domain(spark, sf_dir):
    """JSON facet DOMAIN CHANGE (blockChildren): the facet's counting
    domain is switched from the filtered PARENT docs (urgent orders)
    to their CHILD docs, then bucketed by a child field with a nested
    sum agg (reference solr/core/.../search/facet/FacetRequest.java
    domain handling + BlockJoin domain — the {!child} domain switch).
    Plan: filter pushed to the parent scan, broadcast-or-shuffle join
    on the block key, one hash-agg — identical shape to the block-join
    gates."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(8,2)"))
                .cast("double"),
                2,
            ).alias("qty"),
        )
        .orderBy("flag")
    )


_SAMPLED_FACET_SQL = """
WITH s AS (
  SELECT o_orderpriority
  FROM orders
  WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 4 = 0)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS sampled_cnt,
       CAST(count(*) * 4 AS BIGINT) AS est_cnt
FROM s GROUP BY o_orderpriority ORDER BY o_orderpriority"""


@gate("rel_facet_sampled", _SAMPLED_FACET_SQL)
def rel_facet_sampled(spark, sf_dir):
    """RandomSamplingFacetsCollector analog: facet counts over a ~1/4
    doc sample, scaled back by the inverse sample rate
    (lucene/facet/.../RandomSamplingFacetsCollector.java — sampled
    bin counts amortize facet cost over huge result sets). DECLARED
    DIVERGENCE (the rel_random_sample pattern): the reference samples
    with XORShift64; this engine samples by a deterministic md5-derived
    hash so both engines select the IDENTICAL subset — the estimator
    semantics (count/rate) are the reference's."""
    from .operators.hashing import h60

    o = load(spark, sf_dir, "orders")
    s = o.filter(h60(F.col("o_orderkey").cast("string")) % 4 == 0)
    return (
        s.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("sampled_cnt"))
        .select(
            "o_orderpriority",
            "sampled_cnt",
            (F.col("sampled_cnt") * 4).cast("long").alias("est_cnt"),
        )
        .orderBy("o_orderpriority")
    )


# ------------------------------------------- lucene/expressions compiler

# The three compiled sources cover the javadoc's canonical ranking blend
# (JavascriptCompiler.java:58-66) plus the type-stack corners: hex/octal
# literals, masked long shifts, bitwise ops, int-truncating truthiness
# (!0.5 is true), ternaries, and guarded ln/sqrt/min.  Spark evaluates
# the Spark rendering, DuckDB the DuckDB rendering of the SAME ASTs, so
# the gate pins the two emitters' value agreement over real data (JVM
# parity itself is pinned by the TestJavascriptOperations vectors in
# tests/test_jsexpr.py).

def _jsexpr_compiled():
    from .functions.jsexpr import compile_expression

    binds = {
        "popularity": "(o_orderkey % 17)",
        "_score": "(CAST(o_totalprice AS DOUBLE) / 100000.0)",
        "k": "(o_custkey % 1000)",
    }
    rank = compile_expression(
        "(0.3*popularity)/10.0 + 0.7*_score"
        " + ((popularity > 4) ? ln(popularity) : 0)",
        binds,
    )
    bits = compile_expression(
        "((k << 3) | (k >>> 0x2)) & 0xFF ^ ((k % 7 == 0) ? 017 : 1)", binds
    )
    quirk = compile_expression(
        "(!0.5) + ((k && 1) ? min(sqrt(k), 0x1F) : -(k >> 1))", binds
    )
    return rank, bits, quirk


_JS_RANK, _JS_BITS, _JS_QUIRK = _jsexpr_compiled()

_JSEXPR_SQL = f"""
SELECT o_orderkey,
       round({_JS_RANK.duckdb_sql}, 6) AS js_rank,
       {_JS_BITS.duckdb_sql} AS js_bits,
       round({_JS_QUIRK.duckdb_sql}, 6) AS js_quirk
FROM orders WHERE o_orderkey <= 256
ORDER BY o_orderkey"""


@gate("fn_jsexpr", _JSEXPR_SQL)
def fn_jsexpr(spark, sf_dir):
    """lucene/expressions scoring DSL compiled to Catalyst expressions
    (JavascriptCompiler.java grammar + JVM type-stack semantics; see
    functions/jsexpr.py).  The compiled Column is pure whole-stage
    codegen — no UDF, no shuffle beyond the scan."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 256)
    return (
        o.select(
            "o_orderkey",
            F.round(_JS_RANK.column(), 6).alias("js_rank"),
            _JS_BITS.column().alias("js_bits"),
            F.round(_JS_QUIRK.column(), 6).alias("js_quirk"),
        )
        .orderBy("o_orderkey")
    )


# ------------------------------------------ FastVectorHighlighter (FVH)

# Gate query shape chosen so the oracle's set-algebra phrase matching
# equals the greedy FieldPhraseList scan (singles disjoint from the
# phrase pair except 'merge', handled by the consumed-by-phrase
# exclusion; 2-term adjacent phrases merge to ONE highlight span, so
# acceptPhrase always passes).  fragCharSize=150 over docs < 440 chars
# bounds every doc to <= 3 fragments; the oracle unrolls 4 greedy
# layers (startOffset advances >= fragCharSize per fragment, so layer 4
# is provably empty) and ranks score desc / start asc like
# ScoreOrderFragmentsBuilder.

_FVH_FCS, _FVH_MARGIN, _FVH_MAXDOC, _FVH_MAXLEN = 150, 6, 150, 440


def _fvh_oracle_sql(mv: bool = False, max_frag: int = 2):
    """mv=True mirrors the MULTI-VALUED path over a two-value space
    split of each doc (v1 = text[:p], v2 = text[p+1:], p = the first
    space at/after the midpoint): offsets and boundary chars coincide
    with the joined text, so the only divergence is
    getFragmentSourceMSO's buffer stopping after v1 — when a
    fragment's endOffset is EXACTLY p+1 the buffer holds v1+separator
    only and eo clips to bufferLength=p (BaseFragmentsBuilder.java:
    193-203).  Valid for max_frag=1 (one fragment per doc → no
    cross-fragment buffer growth)."""
    assert not mv or max_frag == 1
    fcs, margin = _FVH_FCS, _FVH_MARGIN
    layers = []
    prev = None
    for k in range(1, 5):
        s = "0" if prev is None else f"{prev}.span_end"
        src = "ph" if prev is None else f"ph, {prev}"
        where = "" if prev is None else f" AND ph.doc_id = {prev}.doc_id"
        layers.append(f"""
anch{k} AS (
  SELECT ph.doc_id, min(ph.m_start) AS a_start, {s} AS s_off
  FROM {src} WHERE ph.m_start >= {s}{where}
  GROUP BY ph.doc_id{', ' + s if prev is not None else ''}),
a{k} AS (
  SELECT anch{k}.doc_id, a_start, s_off, ph.m_end AS a_end,
         greatest(a_end, greatest(a_start - {margin}, s_off) + {fcs})
           AS span_end0
  FROM anch{k} JOIN ph ON ph.doc_id = anch{k}.doc_id
                      AND ph.m_start = anch{k}.a_start),
pull{k} AS (
  SELECT a{k}.*, ph.m_start, ph.m_end, ph.boost
  FROM a{k} JOIN ph ON ph.doc_id = a{k}.doc_id
  WHERE ph.m_start >= a{k}.a_start
    AND (ph.m_start < coalesce((SELECT min(v.m_start) FROM ph v
          WHERE v.doc_id = a{k}.doc_id AND v.m_start >= a{k}.a_start
            AND v.m_end > a{k}.span_end0), 9223372036854775807))),
f{k} AS (
  SELECT doc_id, s_off, a_start,
         max_by(m_end, m_start) AS last_end,
         max_by(m_end, m_start) - a_start AS match_len,
         greatest(a_start - greatest(0, ({fcs} - (max_by(m_end, m_start)
           - a_start)) // 2), s_off) AS span_start,
         greatest(a_start - greatest(0, ({fcs} - (max_by(m_end, m_start)
           - a_start)) // 2), s_off)
           + greatest(max_by(m_end, m_start) - a_start, {fcs}) AS span_end,
         sum(boost) AS score
  FROM pull{k} GROUP BY doc_id, s_off, a_start),
bnd{k} AS (
  SELECT f.*,
         CASE WHEN f.span_start < 1 THEN f.span_start
              WHEN length(regexp_extract(reverse(substr(d.text,
                     greatest(f.span_start - 19, 1),
                     f.span_start - greatest(f.span_start - 19, 1) + 1)),
                     '^([^.,!? \t\n]*)', 1))
                   < f.span_start - greatest(f.span_start - 19, 1) + 1
                THEN f.span_start - length(regexp_extract(reverse(substr(
                     d.text, greatest(f.span_start - 19, 1),
                     f.span_start - greatest(f.span_start - 19, 1) + 1)),
                     '^([^.,!? \t\n]*)', 1))
              WHEN f.span_start <= 20 THEN 0
              ELSE f.span_start END AS mso,
         CASE {"WHEN f.span_end = d.p + 1 THEN d.p" if mv else ""}
              WHEN length(d.text) < f.span_end THEN length(d.text)
              WHEN length(regexp_extract(substr(d.text, f.span_end + 1, 20),
                     '^([^.,!? \t\n]*)', 1))
                   < length(substr(d.text, f.span_end + 1, 20))
                THEN f.span_end + length(regexp_extract(substr(d.text,
                     f.span_end + 1, 20), '^([^.,!? \t\n]*)', 1))
              -- no boundary inside the scan window: the reference
              -- buffer always ends in the multiValuedSeparator, so a
              -- window cut short by end-of-text finds that virtual
              -- ' ' boundary at length(text)
              WHEN length(d.text) - f.span_end < 20 THEN length(d.text)
              ELSE f.span_end END AS eo
  FROM f{k} f JOIN docs d ON d.doc_id = f.doc_id),
lagged{k} AS (
  SELECT p.doc_id, f.span_start, f.span_end, f.score, f.last_end,
         f.mso, f.eo, p.m_start, p.m_end,
         lag(p.m_end, 1, f.mso)
           OVER (PARTITION BY p.doc_id ORDER BY p.m_start) AS prev_close
  FROM pull{k} p JOIN bnd{k} f ON f.doc_id = p.doc_id),
snip{k} AS (
  SELECT z.doc_id, z.span_start, z.span_end, z.score,
         string_agg(
           substr(d.text, z.prev_close + 1, z.m_start - z.prev_close)
           || '<b>' || substr(d.text, z.m_start + 1, z.m_end - z.m_start)
           || '</b>', '' ORDER BY z.m_start)
         || substr(any_value(d.text), z.last_end + 1, z.eo - z.last_end)
           AS snippet
  FROM lagged{k} z JOIN docs d ON d.doc_id = z.doc_id
  GROUP BY z.doc_id, z.span_start, z.span_end, z.score, z.last_end,
           z.eo)""")
        prev = f"f{k}"
    layer_sql = ",".join(layers)
    p_expr = (
        "CASE WHEN strpos(substr(text, length(text) // 2 + 1), ' ') > 0"
        " THEN length(text) // 2"
        " + strpos(substr(text, length(text) // 2 + 1), ' ') - 1"
        " ELSE -10 END"
        if mv
        else "-10"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, text, {p_expr} AS p FROM documents
  WHERE doc_id < {_FVH_MAXDOC} AND length(text) < {_FVH_MAXLEN}),
chars AS (
  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i,
         text FROM docs),
ctab AS (
  SELECT doc_id, i, substr(lower(text), i, 1) AS c,
         substr(lower(text), i, 1) BETWEEN 'a' AND 'z'
           OR substr(lower(text), i, 1) BETWEEN '0' AND '9' AS al,
         coalesce(substr(lower(text), i - 1, 1) BETWEEN 'a' AND 'z'
           OR substr(lower(text), i - 1, 1) BETWEEN '0' AND '9',
           FALSE) AS pal
  FROM chars),
toks AS (
  SELECT doc_id,
         string_agg(c, '' ORDER BY i) AS term,
         sum(CASE WHEN al AND NOT pal THEN 1 ELSE 0 END) AS _chk,
         min(i) - 1 AS t_start, max(i) AS t_end,
         tid AS pos
  FROM (SELECT *, sum(CASE WHEN al AND NOT pal THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS tid
        FROM ctab) WHERE al
  GROUP BY doc_id, tid),
ph AS (
  SELECT a.doc_id, a.t_start AS m_start, b.t_end AS m_end,
         CAST(2.0 AS DOUBLE) AS boost
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'table' AND b.term = 'merge'
  UNION ALL
  SELECT t.doc_id, t.t_start, t.t_end,
         CAST(CASE t.term WHEN 'merge' THEN 1.0 ELSE 3.0 END AS DOUBLE)
  FROM toks t
  WHERE (t.term = 'vector'
         OR (t.term = 'merge' AND NOT EXISTS (
               SELECT 1 FROM toks x
               WHERE x.doc_id = t.doc_id AND x.pos = t.pos - 1
                 AND x.term = 'table')))),
{layer_sql},
allf AS (
  SELECT * FROM snip1 UNION ALL SELECT * FROM snip2
  UNION ALL SELECT * FROM snip3 UNION ALL SELECT * FROM snip4),
ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, span_start) - 1 AS frag,
         span_start, span_end, score, snippet
  FROM allf)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(frag AS INTEGER) AS frag,
       CAST(span_start AS INTEGER) AS span_start,
       CAST(span_end AS INTEGER) AS span_end,
       CAST(score AS DOUBLE) AS score, snippet
FROM ranked WHERE frag < {max_frag}
ORDER BY doc_id, frag"""


@gate("fts_fvh_fragments", _fvh_oracle_sql())
def fts_fvh_fragments(spark, sf_dir):
    """FastVectorHighlighter: phrase-aware greedy fragment packing +
    score-ordered tagged snippets (vectorhighlight package — see
    search/fvh.py for the per-stage reference citations).  Engine runs
    the exact FieldPhraseList/BaseFragListBuilder control flow in one
    narrow mapInPandas (zero shuffles); the oracle re-derives it as
    4-layer unrolled set algebra over a character-exploded tokenizer."""
    from .search.fvh import FvhQuery, fvh_highlight

    q = FvhQuery(
        singles={"merge": 1.0, "vector": 3.0},
        phrases=((("table", "merge"), 2.0),),
    )
    docs = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < _FVH_MAXDOC)
        & (F.length("text") < _FVH_MAXLEN)
    )
    return (
        fvh_highlight(
            docs, q,
            frag_char_size=_FVH_FCS, margin=_FVH_MARGIN, max_frags=2,
        )
        .orderBy("doc_id", "frag")
    )


@gate("fts_fvh_multivalued", _fvh_oracle_sql(mv=True, max_frag=1))
def fts_fvh_multivalued(spark, sf_dir):
    """FVH over a MULTI-VALUED field (round 5 — closes the declared
    single-valued restriction): each doc is split at the first space
    at/after its midpoint into two stored values; the engine runs the
    multi-valued FieldTermStack (offsets accumulate with the 1-char
    Analyzer.getOffsetGap, positions continue with posIncGap=0) and
    getFragmentSourceMSO's value-appending buffer
    (BaseFragmentsBuilder.java:191-205 — search/fvh.py
    tokenize_offsets_mv / make_fragments_mv).  Because the split
    preserves the joined character stream, the oracle is the
    single-valued set algebra plus the ONE genuinely multi-valued
    divergence: a fragment whose endOffset lands exactly one past the
    first value's end is clipped to bufferLength (the buffer stops
    growing at endOffset).  max_frags=1 keeps the shared buffer state
    per-doc trivial; the discrete-mode and gap>0 semantics are pinned
    by the JUnit-transcribed vectors in tests/test_fvh.py.  Same
    zero-shuffle narrow mapInPandas plan."""
    from .search.fvh import FvhQuery, fvh_highlight_mv

    q = FvhQuery(
        singles={"merge": 1.0, "vector": 3.0},
        phrases=((("table", "merge"), 2.0),),
    )
    docs = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < _FVH_MAXDOC)
        & (F.length("text") < _FVH_MAXLEN)
    )
    mid = (F.length("text") / 2).cast("int")
    sp = F.instr(F.substring(F.col("text"), mid + 1, 1 << 30), " ")
    p0 = mid + sp - 1  # 0-based index of the split space
    docs = docs.select(
        "doc_id",
        F.when(
            sp > 0,
            F.array(
                F.substring(F.col("text"), 1, p0),
                F.substring(F.col("text"), p0 + 2, 1 << 30),
            ),
        )
        .otherwise(F.array(F.col("text")))
        .alias("texts"),
    )
    return (
        fvh_highlight_mv(
            docs, q,
            frag_char_size=_FVH_FCS, margin=_FVH_MARGIN, max_frags=1,
        )
        .orderBy("doc_id", "frag")
    )


def _fvh_weighted_sql():
    """WeightedFragListBuilder variant: disjoint query (single 'vector'
    boost 3, phrase 'table merge' boost 2) so the reference's
    first-distinct-term accumulation reduces to per-kind firsts, and
    every float32 step of WeightedFieldFragList.add is mirrored with
    explicit FLOAT casts (exact for f32 add/mult via the f64 path; the
    single 1/sqrt division follows the engine's f64-div-then-f32 chain
    verbatim)."""
    fcs, margin = _FVH_FCS, _FVH_MARGIN
    layers = []
    prev = None
    for k in range(1, 5):
        s = "0" if prev is None else f"{prev}.span_end"
        src = "ph" if prev is None else f"ph, {prev}"
        where = "" if prev is None else f" AND ph.doc_id = {prev}.doc_id"
        layers.append(f"""
anch{k} AS (
  SELECT ph.doc_id, min(ph.m_start) AS a_start, {s} AS s_off
  FROM {src} WHERE ph.m_start >= {s}{where}
  GROUP BY ph.doc_id{', ' + s if prev is not None else ''}),
a{k} AS (
  SELECT anch{k}.doc_id, a_start, s_off, ph.m_end AS a_end,
         greatest(a_end, greatest(a_start - {margin}, s_off) + {fcs})
           AS span_end0
  FROM anch{k} JOIN ph ON ph.doc_id = anch{k}.doc_id
                      AND ph.m_start = anch{k}.a_start),
pull{k} AS (
  SELECT a{k}.*, ph.m_start, ph.m_end, ph.kind
  FROM a{k} JOIN ph ON ph.doc_id = a{k}.doc_id
  WHERE ph.m_start >= a{k}.a_start
    AND (ph.m_start < coalesce((SELECT min(v.m_start) FROM ph v
          WHERE v.doc_id = a{k}.doc_id AND v.m_start >= a{k}.a_start
            AND v.m_end > a{k}.span_end0), 9223372036854775807))),
f{k} AS (
  SELECT doc_id, s_off, a_start,
         greatest(a_start - greatest(0, ({fcs} - (max_by(m_end, m_start)
           - a_start)) // 2), s_off) AS span_start,
         greatest(a_start - greatest(0, ({fcs} - (max_by(m_end, m_start)
           - a_start)) // 2), s_off)
           + greatest(max_by(m_end, m_start) - a_start, {fcs}) AS span_end,
         sum(CASE WHEN kind = 'v' THEN 1 ELSE 0 END) AS n_v,
         sum(CASE WHEN kind = 't' THEN 1 ELSE 0 END) AS n_t
  FROM pull{k} GROUP BY doc_id, s_off, a_start)""")
        prev = f"f{k}"
    layer_sql = ",".join(layers)
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < {_FVH_MAXDOC} AND length(text) < {_FVH_MAXLEN}),
chars AS (
  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i,
         text FROM docs),
ctab AS (
  SELECT doc_id, i, substr(lower(text), i, 1) AS c,
         substr(lower(text), i, 1) BETWEEN 'a' AND 'z'
           OR substr(lower(text), i, 1) BETWEEN '0' AND '9' AS al,
         coalesce(substr(lower(text), i - 1, 1) BETWEEN 'a' AND 'z'
           OR substr(lower(text), i - 1, 1) BETWEEN '0' AND '9',
           FALSE) AS pal
  FROM chars),
toks AS (
  SELECT doc_id, string_agg(c, '' ORDER BY i) AS term,
         min(i) - 1 AS t_start, max(i) AS t_end, tid AS pos
  FROM (SELECT *, sum(CASE WHEN al AND NOT pal THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS tid
        FROM ctab) WHERE al
  GROUP BY doc_id, tid),
nd AS (SELECT count(*) AS n FROM docs),
w AS (
  SELECT
    CAST(ln(CAST(nd.n AS DOUBLE) / (coalesce(dv.d, 0) + 1.0)) + 1.0
         AS FLOAT) AS w_vec,
    CAST(ln(CAST(nd.n AS DOUBLE) / (coalesce(dt.d, 0) + 1.0)) + 1.0
         AS FLOAT) AS w_tab,
    CAST(ln(CAST(nd.n AS DOUBLE) / (coalesce(dm.d, 0) + 1.0)) + 1.0
         AS FLOAT) AS w_mrg
  FROM nd
  LEFT JOIN (SELECT 1 AS k, count(DISTINCT doc_id) AS d FROM toks
             WHERE term = 'vector') dv ON TRUE
  LEFT JOIN (SELECT 1 AS k, count(DISTINCT doc_id) AS d FROM toks
             WHERE term = 'table') dt ON TRUE
  LEFT JOIN (SELECT 1 AS k, count(DISTINCT doc_id) AS d FROM toks
             WHERE term = 'merge') dm ON TRUE),
ph AS (
  SELECT a.doc_id, a.t_start AS m_start, b.t_end AS m_end, 't' AS kind
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'table' AND b.term = 'merge'
  UNION ALL
  SELECT t.doc_id, t.t_start, t.t_end, 'v' AS kind
  FROM toks t WHERE t.term = 'vector'),
{layer_sql},
allf AS (
  SELECT * FROM f1 UNION ALL SELECT * FROM f2
  UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4),
scored AS (
  SELECT doc_id, span_start, span_end,
         CAST(
           (CASE WHEN n_v > 0 THEN CAST(
              CAST(w.w_vec * CAST(3.0 AS FLOAT) AS FLOAT)
              * CAST((n_v + 2 * n_t) * (CAST(1.0 AS DOUBLE) /
                  CAST(sqrt(CAST(n_v + 2 * n_t AS DOUBLE)) AS FLOAT))
                AS FLOAT) AS FLOAT)
            ELSE CAST(0.0 AS FLOAT) END)
         + (CASE WHEN n_t > 0 THEN CAST(
              CAST(CAST(w.w_tab * CAST(2.0 AS FLOAT) AS FLOAT)
                   + CAST(w.w_mrg * CAST(2.0 AS FLOAT) AS FLOAT) AS FLOAT)
              * CAST((n_v + 2 * n_t) * (CAST(1.0 AS DOUBLE) /
                  CAST(sqrt(CAST(n_v + 2 * n_t AS DOUBLE)) AS FLOAT))
                AS FLOAT) AS FLOAT)
            ELSE CAST(0.0 AS FLOAT) END) AS FLOAT) AS score
  FROM allf CROSS JOIN w),
ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, span_start) - 1 AS frag,
         span_start, span_end, score
  FROM scored)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(frag AS INTEGER) AS frag,
       CAST(span_start AS INTEGER) AS span_start,
       CAST(span_end AS INTEGER) AS span_end,
       CAST(score AS DOUBLE) AS wscore
FROM ranked WHERE frag < 2
ORDER BY doc_id, frag"""


@gate("fts_fvh_weighted", _fvh_weighted_sql())
def fts_fvh_weighted(spark, sf_dir):
    """WeightedFragListBuilder scoring (WeightedFieldFragList.java:
    36-66): IDF term weights × phrase boosts over first-seen distinct
    terms, √length-normalized, float32 accumulation — driver-verified
    against the FLOAT-cast SQL mirror."""
    from .search.fvh import FvhQuery, fvh_highlight, idf_weights

    docs = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < _FVH_MAXDOC)
        & (F.length("text") < _FVH_MAXLEN)
    )
    num_docs = docs.count()
    from .operators.dedup import tokens_col

    df_rows = (
        docs.select("doc_id", F.explode(
            F.array_distinct(tokens_col("text"))).alias("term"))
        .filter(F.col("term").isin("vector", "table", "merge"))
        .groupBy("term").agg(F.count("*").alias("d"))
        .collect()
    )
    df_map = {r["term"]: int(r["d"]) for r in df_rows}
    weights = idf_weights(
        {t: df_map.get(t, 0) for t in ("vector", "table", "merge")},
        num_docs,
    )
    q = FvhQuery(
        singles={"vector": 3.0}, phrases=((("table", "merge"), 2.0),)
    )
    return (
        fvh_highlight(
            docs, q,
            frag_char_size=_FVH_FCS, margin=_FVH_MARGIN, max_frags=2,
            weighted=True, term_weights=weights,
        )
        .select("doc_id", "frag", "span_start", "span_end",
                F.col("score").alias("wscore"))
        .orderBy("doc_id", "frag")
    )


# ----------------------- expression rerank (FunctionScoreQuery shape)

def _jsexpr_rerank():
    from .functions.jsexpr import compile_expression

    return compile_expression(
        "(0.3*popularity)/10.0 + 0.7*_score"
        " + ((popularity % 2 == 0) ? sqrt(popularity) : 0)",
        {"popularity": "(doc_id % 17)", "_score": "score"},
    )


_JS_RERANK = _jsexpr_rerank()


def _jsexpr_rerank_sql():
    from .gate import bm25_sql

    base = bm25_sql(["spark", "merge"], "disjunctive", 50)
    return f"""
WITH b AS ({base})
SELECT doc_id,
       round({_JS_RERANK.duckdb_sql}, 6) AS rr_score,
       round(score, 4) AS base_score
FROM b ORDER BY rr_score DESC, doc_id LIMIT 20"""


@gate("fn_jsexpr_rerank", _jsexpr_rerank_sql())
def fn_jsexpr_rerank(spark, sf_dir):
    """Expression rerank — the lucene/expressions headline use case
    (FunctionScoreQuery / expressions javadoc 'sort by score +
    popularity function'): BM25 top-50, re-scored by a compiled
    expression over _score and a popularity field, top-20 by the new
    score.  The compiled Column runs inside the same Catalyst plan as
    the base query — no extra pass."""
    from .gate import _bm25_spark

    base = _bm25_spark(
        spark, sf_dir, ["spark", "merge"], "disjunctive", 50
    )
    return (
        base.select(
            "doc_id",
            F.round(_JS_RERANK.column(), 6).alias("rr_score"),
            F.round("score", 4).alias("base_score"),
        )
        .orderBy(F.desc("rr_score"), F.asc("doc_id"))
        .limit(20)
    )


_FACET_PARENT_SQL = """
SELECT o.o_orderpriority AS pri,
       CAST(count(*) AS BIGINT) AS n_parents,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
         AS parent_price
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority ORDER BY pri"""


@gate("rel_facet_domain_parent", _FACET_PARENT_SQL)
def rel_facet_domain_parent(spark, sf_dir):
    """JSON facet domain change, the OTHER direction (blockParent /
    {!parent} domain switch, FacetRequest.java domain handling): the
    counting domain moves from matching CHILD docs (returned lineitems)
    to their DISTINCT parents, then buckets by a parent field with a
    parent-level agg.  Spark shape: LEFT SEMI join (dedup built into
    the join type, no distinct pass) + one hash-agg."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        o.join(li, "o_orderkey", "left_semi")
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count("*").cast("long").alias("n_parents"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                .cast("double"), 2,
            ).alias("parent_price"),
        )
        .orderBy("pri")
    )


_FACET_MULTISELECT_SQL = """
WITH excl AS (
  SELECT o_orderpriority AS pri, count(*) AS c
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority),
full_f AS (
  SELECT o_orderpriority AS pri, count(*) AS c
  FROM orders WHERE o_orderstatus = 'F'
    AND o_orderpriority = '1-URGENT' GROUP BY o_orderpriority)
SELECT excl.pri,
       CAST(excl.c AS BIGINT) AS cnt_excl_own,
       CAST(coalesce(full_f.c, 0) AS BIGINT) AS cnt_all_filters
FROM excl LEFT JOIN full_f ON full_f.pri = excl.pri
ORDER BY excl.pri"""


@gate("rel_facet_multiselect", _FACET_MULTISELECT_SQL)
def rel_facet_multiselect(spark, sf_dir):
    """Multi-select faceting (Solr tag/excludeTags, FacetField
    excludeTags domain filter exclusion): with fq={!tag=PRI}priority:
    1-URGENT and fq=status:F active, the priority facet EXCLUDES its
    own tagged filter — every priority bucket stays visible with its
    would-be count — while cnt_all_filters shows the fully-filtered
    count.  Two aggs over the same scan; Catalyst reuses the pushed
    status filter."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    excl = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count("*").cast("long").alias("cnt_excl_own")
    )
    full_f = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(F.count("*").cast("long").alias("cnt_all_filters"))
    )
    return (
        excl.join(full_f, "pri", "left")
        .fillna({"cnt_all_filters": 0})
        .select("pri", "cnt_excl_own", "cnt_all_filters")
        .orderBy("pri")
    )


# ------------------------------------- FeatureField / FeatureQuery

_FEATURE_SQL = """
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 97 + 1 AS DOUBLE) * 0.125
           + 0.0625 * CAST(doc_id % 7 AS DOUBLE) AS v
  FROM documents WHERE doc_id < 300),
enc AS (
  SELECT doc_id, v,
         CAST(floor(((e + 127) * 8388608.0
           + floor(v32 / p * 8388608.0 - 8388608.0)) / 32768.0) AS BIGINT)
           AS freq
  FROM (SELECT doc_id, v, v32,
               CASE WHEN v32 < power(2.0, e0) THEN e0 - 1
                    WHEN v32 >= 2 * power(2.0, e0) THEN e0 + 1
                    ELSE e0 END AS e,
               power(2.0, CASE WHEN v32 < power(2.0, e0) THEN e0 - 1
                    WHEN v32 >= 2 * power(2.0, e0) THEN e0 + 1
                    ELSE e0 END) AS p
        FROM (SELECT doc_id, v,
                     CAST(CAST(v AS FLOAT) AS DOUBLE) AS v32,
                     floor(ln(CAST(CAST(v AS FLOAT) AS DOUBLE)) / ln(2.0))
                       AS e0
              FROM d))),
dec AS (
  SELECT doc_id, freq,
         CAST((8388608.0 + (bits - floor(bits / 8388608.0) * 8388608.0))
              * power(2.0, floor(bits / 8388608.0) - 127 - 23) AS FLOAT)
           AS f
  FROM (SELECT doc_id, freq, floor(CAST(freq AS DOUBLE)) * 32768.0 AS bits
        FROM enc)),
piv AS (
  SELECT CAST((8388608.0 + (bits - floor(bits / 8388608.0) * 8388608.0))
              * power(2.0, floor(bits / 8388608.0) - 127 - 23) AS FLOAT)
           AS pv
  FROM (SELECT floor(CAST(CAST(CAST(sum(freq) AS DOUBLE) / count(*)
                 AS FLOAT) AS DOUBLE)) * 32768.0 AS bits
        FROM enc))
SELECT doc_id, freq,
  round(CAST(CAST(CAST(1.8 AS FLOAT) AS DOUBLE)
    * CAST(CAST(CAST(1.0 AS FLOAT) AS DOUBLE)
           - CAST(CAST(pv AS DOUBLE)
                  / CAST(CAST(CAST(f AS DOUBLE) + CAST(pv AS DOUBLE)
                         AS FLOAT) AS DOUBLE) AS FLOAT) AS FLOAT)
    AS FLOAT), 6) AS sat_auto,
  round(CAST(CAST(CAST(2.0 AS FLOAT) AS DOUBLE)
    * ln(CAST(CAST(CAST(1.0 AS FLOAT) AS DOUBLE) + CAST(f AS DOUBLE)
          AS FLOAT)) AS FLOAT), 6) AS logv,
  round(CAST(CAST(CAST(2.0 AS FLOAT) AS DOUBLE)
    * (1.0 - power(2.5, 0.6)
       / (power(CAST(f AS DOUBLE), 0.6) + power(2.5, 0.6)))
    AS FLOAT), 6) AS sig
FROM dec CROSS JOIN piv
ORDER BY doc_id"""


@gate("fts_feature_field", _FEATURE_SQL)
def fts_feature_field(spark, sf_dir):
    """FeatureField static-feature ranking (document/FeatureField.java):
    values quantized into term-freq bits (floatToIntBits >>> 15) at
    index time, scored by the saturation (stats-derived ~geometric-mean
    pivot), log, and sigmoid functions with the reference's exact
    float32 chains — see search/featurefield.py.  All closed-form
    Column arithmetic; the one pivot stat is a broadcast 1-row agg."""
    from .search.featurefield import encode_feature_freq, feature_scores

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    value = (
        (F.col("doc_id") % 97 + 1).cast("double") * 0.125
        + 0.0625 * (F.col("doc_id") % 7).cast("double")
    )
    feats = docs.select(
        "doc_id",
        F.lit("pr").alias("feature"),
        encode_feature_freq(value).alias("freq"),
    )
    sat = feature_scores(feats, "pr", "saturation", weight=1.8)
    logv = feature_scores(feats, "pr", "log", weight=2.0, scaling=1.0)
    sig = feature_scores(
        feats, "pr", "sigmoid", weight=2.0, pivot=2.5, a=0.6
    )
    return (
        feats.select("doc_id", "freq")
        .join(sat.select("doc_id", F.round("score", 6).alias("sat_auto")),
              "doc_id")
        .join(logv.select("doc_id", F.round("score", 6).alias("logv")),
              "doc_id")
        .join(sig.select("doc_id", F.round("score", 6).alias("sig")),
              "doc_id")
        .orderBy("doc_id")
    )


_DISTANCE_FEATURE_SQL = """
SELECT doc_id,
  round(CAST(CAST(CAST(1.5 AS FLOAT) AS DOUBLE)
    * (250.0 / (250.0 + CAST(abs(doc_id * 37 % 5000 - 1000) AS DOUBLE)))
    AS FLOAT), 6) AS dfq_score
FROM documents WHERE doc_id < 400
ORDER BY doc_id"""


@gate("fts_distance_feature", _DISTANCE_FEATURE_SQL)
def fts_distance_feature(spark, sf_dir):
    """LongDistanceFeatureQuery recency boost over a synthetic long
    field (doc_id*37 % 5000 vs origin 1000, pivot 250) — see
    search/featurefield.py long_distance_feature_scores."""
    from .search.featurefield import long_distance_feature_scores

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    vals = docs.select(
        "doc_id", ((F.col("doc_id") * 37) % 5000).alias("ts")
    )
    return (
        long_distance_feature_scores(
            vals, "ts", origin=1000, pivot_distance=250, weight=1.5
        )
        .select("doc_id", F.round("score", 6).alias("dfq_score"))
        .orderBy("doc_id")
    )


# --------------------------------- NestedUpdateProcessor (block build)

_NESTED_SQL = """
WITH o AS (SELECT o_orderkey FROM orders WHERE o_orderkey < 2000),
li AS (
  SELECT l.l_orderkey, l.l_linenumber,
         row_number() OVER (PARTITION BY l.l_orderkey
                            ORDER BY l.l_linenumber) - 1 AS ord
  FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey)
SELECT * FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS doc_id,
         CAST(o_orderkey AS BIGINT) AS root, '' AS nest_path,
         CAST(-1 AS BIGINT) AS parent, 0 AS level
  FROM o
  UNION ALL
  SELECT CAST(l_orderkey * 100 + l_linenumber AS BIGINT),
         CAST(l_orderkey AS BIGINT),
         '/lineitems#' || CAST(ord AS VARCHAR),
         CAST(l_orderkey AS BIGINT), 1
  FROM li
  UNION ALL
  SELECT CAST(o_orderkey * 100000 + 1 AS BIGINT),
         CAST(o_orderkey AS BIGINT), '/notes#0',
         CAST(o_orderkey AS BIGINT), 1
  FROM o WHERE o_orderkey % 3 = 0)
ORDER BY doc_id, nest_path"""


@gate("mut_nested_flatten", _NESTED_SQL)
def mut_nested_flatten(spark, sf_dir):
    """NestedUpdateProcessorFactory analog: orders with their lineitems
    (and a conditional notes collection) assembled as document trees,
    flattened to block rows with _root_ / _nest_path_ / _nest_parent_
    annotations (operators/updatechain.py flatten_nested).  The oracle
    re-derives the paths relationally; child ordinals come from the
    sorted child array on the engine side and a row_number on the
    oracle side, so a hash match pins the ordering too."""
    from .operators.updatechain import flatten_nested

    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    ).select(F.col("o_orderkey").alias("id"))
    li = (
        load(spark, sf_dir, "lineitem")
        .join(o.select(F.col("id").alias("l_orderkey")), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        (F.col("l_orderkey") * 100
                         + F.col("l_linenumber")).alias("id"),
                    )
                )
            ).alias("lineitems")
        )
        .withColumnRenamed("l_orderkey", "id")
    )
    nested = (
        o.join(li, "id", "left")
        .select(
            "id",
            F.coalesce(
                F.col("lineitems"),
                F.array().cast("array<struct<ln:int,id:bigint>>"),
            ).alias("lineitems"),
            F.when(
                F.col("id") % 3 == 0,
                F.array(F.struct((F.col("id") * 100000 + 1).alias("id"))),
            ).otherwise(
                F.array().cast("array<struct<id:bigint>>")
            ).alias("notes"),
        )
    )
    flat = flatten_nested(nested, "id", ("lineitems", "notes"))
    return (
        flat.select(
            "doc_id",
            F.col("_root_").alias("root"),
            F.col("_nest_path_").alias("nest_path"),
            F.col("_nest_parent_").alias("parent"),
            "level",
        )
        .orderBy("doc_id", "nest_path")
    )


# ----------------------------- grouped faceting (group.facet=true)

_GROUP_FACET_SQL = """
SELECT o_orderpriority AS pri,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_groups,
       CAST(count(*) AS BIGINT) AS n_docs
FROM orders WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority ORDER BY pri"""


@gate("rel_group_facet", _GROUP_FACET_SQL)
def rel_group_facet(spark, sf_dir):
    """Grouped faceting (lucene/grouping TermGroupFacetCollector /
    Solr group.facet=true): each facet value counts the DISTINCT
    groups (customers) that contain it, not matching docs — alongside
    the doc-level count for contrast.  One partial+final agg with a
    distinct-rewrite; Catalyst plans it as the expand+two-phase-agg
    shape, no extra scan."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        o.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_groups"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .orderBy("pri")
    )


# ------------------------ JaroWinkler spell-distance (spell package)

_JW_QUERY_TERM = "tabel"

_JW_SQL = f"""
WITH toks AS (
  SELECT DISTINCT unnest(regexp_extract_all(lower(coalesce(text, '')),
                  '[a-z0-9]+')) AS term
  FROM documents)
SELECT term, round(jaro_winkler_similarity(term, '{_JW_QUERY_TERM}'), 6)
         AS jw
FROM toks
WHERE jaro_winkler_similarity(term, '{_JW_QUERY_TERM}') >= 0.6
ORDER BY jw DESC, term LIMIT 20"""


@gate("fts_jaro_winkler", _JW_SQL)
def fts_jaro_winkler(spark, sf_dir):
    """JaroWinklerDistance spell suggestions (spell/JaroWinklerDistance
    .java): dictionary terms ranked by JW similarity to the query term
    with the reference's 0.7-threshold Winkler prefix bonus.  The
    engine runs the exact Lucene algorithm in an Arrow batch over the
    term dictionary; DuckDB's builtin computes the identical value."""
    from .functions.editdist import jaro_winkler
    from .operators.dedup import tokens_col

    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.array_distinct(tokens_col("text"))).alias("term")
    ).distinct()
    return (
        terms.select(
            "term",
            F.round(jaro_winkler(F.col("term"), _JW_QUERY_TERM), 6)
            .alias("jw"),
        )
        .filter(F.col("jw") >= 0.6)
        .orderBy(F.desc("jw"), F.asc("term"))
        .limit(20)
    )
