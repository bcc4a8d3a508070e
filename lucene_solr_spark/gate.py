"""Driver-gate queries: Spark DataFrame plans + equivalent DuckDB SQL.

Each entry demonstrates one operator family from SURVEY.md §2 over the
driver's parquet tables and is paired with ANSI SQL the driver runs in
DuckDB for a row-count + schema + value-hash comparison at sf=0.01.

Cross-engine determinism rules used throughout:

- Floating aggregates go through DECIMAL (exact, order-independent) and
  are cast back to double before a final ROUND — bit-identical across
  engines.
- BM25 scores are computed in full double precision on BOTH sides (same
  expression tree; the only transcendental is ln, identical after
  ROUND(…,4)), over SmallFloat-quantized document lengths. The
  Lucene-exact float32 pipeline is exercised by the pytest golden
  fixtures instead (tests/test_search_parity.py) — DuckDB cannot
  replicate Java float cast points.
- Tokenization for SQL-checked fulltext queries is the JVM-native
  "simple" analyzer == ``regexp_extract_all(lower(text), '[a-z0-9]+')``.
- Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .functions.smallfloat import byte4_to_int
from .index.builder import simple_tokens
from .search.bruteforce import search_bruteforce

# Final driver-registered maps (curated in gate_suites.py: the driver
# verifies the first 50 registered queries, so the registry is exactly
# 50 entries — every SURVEY §2 family inside the checked window, with
# same-family operators composed into tagged-union/join "suite" gates
# whose single driver row evidences each member).
QUERIES: dict = {}
ORACLE_SQL: dict = {}

# Raw operator gates ("parts"): each is still a standalone
# (spark_fn, oracle_sql) pair runnable on its own — suites compose them
# verbatim, and tests/scripts can exercise any part directly.
PARTS: dict = {}
PARTS_SQL: dict = {}


def gate(name: str, sql: str | None = None):
    def deco(fn):
        PARTS[name] = fn
        if sql is not None:
            PARTS_SQL[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------- loaders

_INDEX_CACHE: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _gate_index(docs: DataFrame, index_positions: bool = False):
    """Simple-analyzer segmented index over (doc_id, text) rows whose
    doc_id is trusted as is, built into a temp dir that is removed when
    the process exits."""
    from .index.segments import build_segmented_index, temp_index_dir

    return build_segmented_index(
        docs,
        temp_index_dir("lss_gate_idx_"),
        num_segments=8,
        seg_group_size=2,
        n_buckets=8,
        analyzer="simple",
        id_col="doc_id",
        index_positions=index_positions,
    )


def docs_index(spark: SparkSession, sf_dir: str):
    """Inverted index over the documents table (simple analyzer,
    pre-existing dense doc_id): the positional build of docs_pos_index,
    so each sf_dir is indexed once per process."""
    return docs_pos_index(spark, sf_dir)


def docs_title_index(spark: SparkSession, sf_dir: str):
    """Second indexed FIELD over the documents table: title = the first
    8 analyzed tokens (a deterministic field projection both engines
    derive identically). Own df/avgdl/norm statistics — the reference's
    per-field semantics for multi-field (qf) queries."""
    key = ("docs_title", sf_dir)
    if key not in _INDEX_CACHE:
        docs = load(spark, sf_dir, "documents").select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(simple_tokens("text"), 1, 8)
            ).alias("text"),
        )
        _INDEX_CACHE[key] = _gate_index(docs)
    return _INDEX_CACHE[key]


def docs_pos_index(spark: SparkSession, sf_dir: str):
    """Positional segmented index over the documents table (simple
    analyzer) — backs the term and phrase gates; cached per sf_dir."""
    key = ("docs_pos", sf_dir)
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = _gate_index(
            load(spark, sf_dir, "documents").select("doc_id", "text"),
            index_positions=True,
        )
    return _INDEX_CACHE[key]


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, term) — positional token stream, JVM-native."""
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", simple_tokens("text").alias("toks"))
        .select("doc_id", F.posexplode("toks").alias("pos", "term"))
    )


# ------------------------------------------------- BM25 SQL construction

# dl range → norm byte bucket → decoded (quantized) length, as literal
# SQL VALUES — replicates SmallFloat.intToByte4/byte4ToInt exactly.
def _norm_values_sql() -> str:
    dec = byte4_to_int(np.arange(256))
    rows = []
    for b in range(256):
        lo = int(dec[b])
        hi = int(dec[b + 1]) - 1 if b < 255 else 2147483647
        if hi < lo:  # unreachable byte bucket (never happens, guard)
            continue
        rows.append(f"({lo},{hi},{lo})")
    return ",".join(rows)


_NORM_VALUES = _norm_values_sql()

_TOKS = (
    "SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term "
    "FROM documents"
)


def bm25_sql(
    terms,
    mode: str = "disjunctive",
    k: int = 10,
    min_should_match: int | None = None,
    exclude: list | None = None,
    boosts: dict | None = None,
    tie: float = 0.0,
) -> str:
    tl = ",".join(f"'{t}'" for t in terms)
    boost_mul = ""
    if boosts:
        cases = " ".join(
            f"WHEN tf.term = '{t}' THEN {float(b)!r}" for t, b in boosts.items()
        )
        boost_mul = f" * (CASE {cases} ELSE 1.0 END)"
    having = ""
    if mode == "conjunctive":
        having = f"HAVING count(*) = {len(terms)}"
    elif min_should_match:
        having = f"HAVING count(*) >= {min_should_match}"
    if mode == "dismax":
        agg = (
            f"max(term_score) + {float(tie)!r}"
            " * (sum(term_score) - max(term_score))"
            if tie else "max(term_score)"
        )
    else:
        agg = "sum(term_score)"
    excl = ""
    if exclude:
        el = ",".join(f"'{t}'" for t in exclude)
        excl = (
            f"AND tf.doc_id NOT IN (SELECT doc_id FROM toks WHERE term IN ({el})) "
        )
    return f"""
WITH toks AS ({_TOKS}),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nt(lo, hi, qdl) AS (VALUES {_NORM_VALUES}),
qd AS (SELECT dl.doc_id, nt.qdl FROM dl JOIN nt ON dl.dl BETWEEN nt.lo AND nt.hi),
stats AS (SELECT count(*) AS doc_count, sum(dl) AS sum_ttf FROM dl),
tf AS (SELECT doc_id, term, count(*) AS freq FROM toks
       WHERE term IN ({tl}) GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln(1 + (s.doc_count - dfs.df + 0.5) / (dfs.df + 0.5))
           * (tf.freq / (tf.freq
              + 1.2 * (1.0 - 0.75 + 0.75 * qd.qdl / (s.sum_ttf / s.doc_count)))){boost_mul}
           AS term_score
  FROM tf
  JOIN dfs USING (term)
  JOIN qd ON qd.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE 1=1 {excl}
)
SELECT doc_id, round({agg}, 4) AS score
FROM scored GROUP BY doc_id {having}
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def bm25_scored_cte(terms) -> str:
    """WITH-body prefix ending in ``scored(doc_id, term, term_score)`` —
    the per-(doc, term) BM25 table the full-grammar parsed-query oracles
    compose clauses over (mirrors executor._execute_general's single
    scoring table)."""
    tl = ",".join(f"'{t}'" for t in terms)
    return f"""toks AS ({_TOKS}),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nt(lo, hi, qdl) AS (VALUES {_NORM_VALUES}),
qd AS (SELECT dl.doc_id, nt.qdl FROM dl JOIN nt ON dl.dl BETWEEN nt.lo AND nt.hi),
stats AS (SELECT count(*) AS doc_count, sum(dl) AS sum_ttf FROM dl),
tf AS (SELECT doc_id, term, count(*) AS freq FROM toks
       WHERE term IN ({tl}) GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (s.doc_count - dfs.df + 0.5) / (dfs.df + 0.5))
           * (tf.freq / (tf.freq
              + 1.2 * (1.0 - 0.75 + 0.75 * qd.qdl / (s.sum_ttf / s.doc_count))))
           AS term_score
  FROM tf
  JOIN dfs USING (term)
  JOIN qd ON qd.doc_id = tf.doc_id
  CROSS JOIN stats s
)"""


def _bm25_spark(
    spark,
    sf_dir,
    terms,
    mode="disjunctive",
    k=10,
    min_should_match=None,
    exclude=None,
    boosts=None,
    tie=0.0,
) -> DataFrame:
    tables = docs_index(spark, sf_dir)
    res = search_bruteforce(
        tables,
        terms,
        mode=mode,
        k=None,
        precision="double",
        min_should_match=min_should_match,
        boost=(boosts if boosts else 1.0),
        tie=tie,
    )
    if exclude:
        excl_docs = tables.postings.filter(
            tables.postings.term.isin(list(exclude))
        ).select("doc_id")
        res = res.join(excl_docs, "doc_id", "left_anti")
    return (
        res.withColumn("score", F.round("score", 4))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# --------------------------------------------------------- fulltext gates
# TermQuery / BooleanQuery / scoring — SURVEY §2.2, §3.1

_Q_DIS = ["spark", "window", "merge"]
_Q_CON = ["join", "hash", "vector"]


@gate("fts_bm25_disjunctive", bm25_sql(_Q_DIS, "disjunctive", 10))
def fts_bm25_disjunctive(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, _Q_DIS, "disjunctive", 10)


@gate("fts_bm25_conjunctive", bm25_sql(_Q_CON, "conjunctive", 10))
def fts_bm25_conjunctive(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, _Q_CON, "conjunctive", 10)


@gate("fts_bm25_term", bm25_sql(["customer"], "disjunctive", 10))
def fts_bm25_term(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, ["customer"], "disjunctive", 10)


@gate(
    "fts_bool_must_not",
    bm25_sql(["join", "hash"], "conjunctive", 10, exclude=["vector"]),
)
def fts_bool_must_not(spark, sf_dir):
    """MUST + MUST_NOT (ReqExclScorer → left_anti join)."""
    return _bm25_spark(
        spark, sf_dir, ["join", "hash"], "conjunctive", 10, exclude=["vector"]
    )


@gate(
    "fts_minshouldmatch",
    bm25_sql(["spark", "vector", "stream", "scan"], "disjunctive", 10,
             min_should_match=3),
)
def fts_minshouldmatch(spark, sf_dir):
    return _bm25_spark(
        spark, sf_dir, ["spark", "vector", "stream", "scan"], "disjunctive", 10,
        min_should_match=3,
    )


@gate(
    "fts_dismax",
    bm25_sql(["spark", "customer"], "dismax", 10),
)
def fts_dismax(spark, sf_dir):
    """DisjunctionMaxQuery: per-doc max over clause scores."""
    return _bm25_spark(spark, sf_dir, ["spark", "customer"], "dismax", 10)


@gate(
    "fts_dismax_tie",
    bm25_sql(["spark", "customer"], "dismax", 10, tie=0.3),
)
def fts_dismax_tie(spark, sf_dir):
    """DisjunctionMaxQuery(tieBreakerMultiplier=0.3): score = max +
    0.3 * (sum - max) over clause scores (reference search/
    DisjunctionMaxScorer.java:84-95 — the dismax qparser's `tie`)."""
    return _bm25_spark(
        spark, sf_dir, ["spark", "customer"], "dismax", 10, tie=0.3
    )


@gate(
    "fts_edismax_fields",
    f"""WITH tokp AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS pos
  FROM documents),
dlb AS (SELECT doc_id, count(*) AS dl FROM tokp GROUP BY doc_id),
dlt AS (SELECT doc_id, least(count(*), 8) AS dl FROM tokp GROUP BY doc_id),
nt(lo, hi, qdl) AS (VALUES {{NORM_VALUES}}),
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
               2.0 * ln(1 + (s.doc_count - d.df + 0.5) / (d.df + 0.5))
                 * (t.freq / (t.freq + 1.2 * (0.25
                    + 0.75 * q.qdl / (s.sum_ttf / s.doc_count)))) AS s
        FROM tft t JOIN dft d USING (term)
        JOIN qdt q ON q.doc_id = t.doc_id CROSS JOIN st s),
u AS (SELECT * FROM scb UNION ALL SELECT * FROM sct),
comb AS (SELECT doc_id, term,
                max(s) + 0.3 * (sum(s) - max(s)) AS ts
         FROM u GROUP BY doc_id, term)
SELECT doc_id, round(sum(ts), 4) AS score
FROM comb GROUP BY doc_id ORDER BY doc_id""".replace(
        "{NORM_VALUES}", _NORM_VALUES
    ),
)
def fts_edismax_fields(spark, sf_dir):
    """ExtendedDisMax qf + tie over two fields: title (first 8 tokens,
    its own df/avgdl/norms) boosted 2.0 and body 1.0, tie 0.3, query
    'spark merge' — per-term DisMax across fields, per-doc sum
    (search/edismax.py; reference solr/core/.../search/
    ExtendedDismaxQParser.java:1262-1304, DisjunctionMaxQuery.java)."""
    from .search.edismax import edismax

    out = edismax(
        {
            "body": docs_index(spark, sf_dir),
            "title": docs_title_index(spark, sf_dir),
        },
        ["spark", "merge"],
        qf={"title": 2.0, "body": 1.0},
        tie=0.3,
        k=None,
        precision="double",
    )
    return (
        out.withColumn("score", F.round("score", 4)).orderBy("doc_id")
    )


@gate(
    "fts_multireader_shards",
    bm25_sql(["spark", "merge"], "disjunctive", 20),
)
def fts_multireader_shards(spark, sf_dir):
    """MultiReader / distributed-search parity: the corpus is split
    into TWO shard indexes (each with local doc ids), composed by
    search/multireader.py with docBase offsets and summed collection
    statistics, and searched as one — scores must equal a single index
    of the union, which is exactly what the oracle computes (reference
    lucene/core/.../index/MultiReader.java, BaseCompositeReader.java:
    31-58; Solr ExactStatsCache global IDF)."""
    from .search.multireader import multi_reader

    key = ("docs_shards", sf_dir)
    if key not in _INDEX_CACHE:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        s1 = _gate_index(docs.filter(F.col("doc_id") < 250))
        s2 = _gate_index(
            docs.filter(F.col("doc_id") >= 250).withColumn(
                "doc_id", F.col("doc_id") - 250
            )
        )
        _INDEX_CACHE[key] = multi_reader([s1, s2])
    comp = _INDEX_CACHE[key]
    res = search_bruteforce(
        comp, ["spark", "merge"], "disjunctive", k=None, precision="double"
    )
    return (
        res.withColumn("score", F.round("score", 4))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


_MSM_TERMS = ["spark", "vector", "stream", "scan", "filter"]


@gate(
    "fts_msm_spec",
    bm25_sql(_MSM_TERMS, "disjunctive", 10, min_should_match=4),
)
def fts_msm_spec(spark, sf_dir):
    """Solr mm-spec minimumShouldMatch: spec "2<-25%" over 5 optional
    clauses resolves to 4 (5 > 2, so all-but-int(25% of 5)=1). The
    Spark side computes msm FROM THE SPEC at runtime
    (search/mmspec.py, SolrPluginUtils.calculateMinShouldMatch); the
    oracle hard-codes the resolved 4, so a spec-parser drift breaks
    the hash."""
    from .search.mmspec import calculate_min_should_match

    msm = calculate_min_should_match(len(_MSM_TERMS), "2<-25%")
    return _bm25_spark(
        spark, sf_dir, _MSM_TERMS, "disjunctive", 10, min_should_match=msm
    )


@gate(
    "fts_term_in_set_count",
    f"""WITH toks AS ({_TOKS})
SELECT count(DISTINCT doc_id) AS n_docs FROM toks
WHERE term IN ('spark','vector','stream')""",
)
def fts_term_in_set_count(spark, sf_dir):
    """TermInSetQuery → isin filter + distinct count."""
    tables = docs_index(spark, sf_dir)
    return tables.postings.filter(
        F.col("term").isin("spark", "vector", "stream")
    ).agg(F.countDistinct("doc_id").alias("n_docs"))


@gate(
    "fts_facet_terms",
    f"""WITH toks AS ({_TOKS})
SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
ORDER BY df DESC, term ASC LIMIT 20""",
)
def fts_facet_terms(spark, sf_dir):
    """FacetField: top terms by document frequency."""
    tables = docs_index(spark, sf_dir)
    return (
        tables.dictionary.select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


@gate(
    "fts_term_vectors",
    f"""WITH toks AS ({_TOKS}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE doc_id < 5 GROUP BY doc_id, term),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term)
SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
       CAST(d.df AS BIGINT) AS df,
       round(CAST(tf.tf AS DOUBLE) / d.df, 6) AS tfidf
FROM tf JOIN dfs d USING (term)
ORDER BY tf.doc_id, tf.term""",
)
def fts_term_vectors(spark, sf_dir):
    """TermVectorComponent: per-document term vectors for a doc set —
    tf, collection df, and the component's tf-idf (tf/docFreq)
    (reference solr/core/.../handler/component/TermVectorComponent
    .java:238-247: `tf`, `df`, `tf-idf` = tf/docFreq). Answered from
    the index tables: the doc-pruned postings join the dictionary —
    no re-tokenization."""
    tables = docs_index(spark, sf_dir)
    tf = tables.postings.filter(F.col("doc_id") < 5).select(
        "doc_id", "term", F.col("freq").alias("tf")
    )
    return (
        tf.join(tables.dictionary.select("term", "df"), "term")
        .select(
            "doc_id", "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf").cast("double") / F.col("df").cast("double"), 6
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "term")
    )


@gate(
    "fts_prefix_expand",
    f"""WITH toks AS ({_TOKS})
SELECT term, count(DISTINCT doc_id) AS df FROM toks WHERE term LIKE 's%'
GROUP BY term ORDER BY term ASC""",
)
def fts_prefix_expand(spark, sf_dir):
    """PrefixQuery: dictionary expansion (term dict automaton → filter)."""
    tables = docs_index(spark, sf_dir)
    return (
        tables.dictionary.filter(F.col("term").startswith("s"))
        .select("term", "df")
        .orderBy(F.asc("term"))
    )


@gate(
    "fts_wildcard_expand",
    f"""WITH toks AS ({_TOKS})
SELECT term, count(DISTINCT doc_id) AS df FROM toks WHERE term LIKE '%a_c%'
GROUP BY term ORDER BY term ASC""",
)
def fts_wildcard_expand(spark, sf_dir):
    """WildcardQuery: LIKE-pattern dictionary expansion."""
    tables = docs_index(spark, sf_dir)
    return (
        tables.dictionary.filter(F.col("term").like("%a_c%"))
        .select("term", "df")
        .orderBy(F.asc("term"))
    )


@gate(
    "fts_rev_wildcard",
    f"""WITH toks AS ({_TOKS})
SELECT term, count(DISTINCT doc_id) AS df FROM toks WHERE term LIKE '%er'
GROUP BY term ORDER BY term ASC""",
)
def fts_rev_wildcard(spark, sf_dir):
    """Leading-wildcard `*er` via the REVERSED term (ReversedWildcard-
    FilterFactory analog — reference solr/core/.../analysis/
    ReversedWildcardFilterFactory.java): reverse(term) startswith
    reverse(suffix), which on an at-rest dictionary stored with a
    sorted/partitioned `term_rev` column is an ordinary prefix
    pushdown instead of a full dictionary scan — the same trick the
    reference plays by indexing reversed tokens."""
    tables = docs_index(spark, sf_dir)
    return (
        tables.dictionary.filter(F.reverse(F.col("term")).startswith("re"))
        .select("term", "df")
        .orderBy(F.asc("term"))
    )


@gate(
    "fts_fuzzy_expand",
    f"""WITH toks AS ({_TOKS})
SELECT term, count(DISTINCT doc_id) AS df FROM toks
WHERE levenshtein(term, 'joins') <= 1
GROUP BY term ORDER BY term ASC""",
)
def fts_fuzzy_expand(spark, sf_dir):
    """FuzzyQuery: edit-distance term expansion on the dictionary."""
    tables = docs_index(spark, sf_dir)
    return (
        tables.dictionary.filter(F.levenshtein(F.col("term"), F.lit("joins")) <= 1)
        .select("term", "df")
        .orderBy(F.asc("term"))
    )


@gate(
    "fts_phrase_match",
    f"""WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS pos
  FROM documents)
SELECT a.doc_id AS doc_id, count(*) AS phrase_freq FROM tok a JOIN tok b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = 'slow' AND b.term = 'query'
GROUP BY a.doc_id
ORDER BY doc_id ASC""",
)
def fts_phrase_match(spark, sf_dir):
    """Exact PhraseQuery answered from the POSITIONAL INDEX (no
    query-time re-tokenization): per-leaf chain match over positional
    posting blocks. Reference: search/PhraseQuery.java,
    ExactPhraseMatcher.java; postings .pos stream
    codecs/lucene50/Lucene50PostingsFormat.java:48-58."""
    from .search.phrase import search_phrase

    index = docs_pos_index(spark, sf_dir)
    return (
        search_phrase(index, ["slow", "query"], slop=0)
        .select("doc_id", "phrase_freq")
        .orderBy("doc_id")
    )


@gate(
    "fts_docfreq_stats",
    f"""WITH toks AS ({_TOKS}),
tf AS (SELECT doc_id, term, count(*) AS freq FROM toks
       WHERE term IN ('spark','join','customer') GROUP BY doc_id, term)
SELECT term, count(*) AS df, CAST(sum(freq) AS BIGINT) AS cf FROM tf
GROUP BY term ORDER BY term ASC""",
)
def fts_docfreq_stats(spark, sf_dir):
    """docfreq/totaltermfreq function queries → dictionary lookups."""
    tables = docs_index(spark, sf_dir)
    return (
        tables.dictionary.filter(F.col("term").isin("spark", "join", "customer"))
        .select("term", "df", "cf")
        .orderBy(F.asc("term"))
    )


# -------------------------------------------------------- relational gates
# Solr streaming-expression / facet analogs over the TPC-H-ish tables
# (SURVEY §2.3 joins, §2.4 aggregations, §2.5 sort/topk/set-ops).

def _dec(col, scale=6):
    return F.col(col).cast(f"decimal(18,{scale})")


@gate(
    "rel_rollup_pricing",
    """SELECT l_returnflag, l_linestatus,
  count(*) AS count_order,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 3) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 3) AS sum_base_price,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE), 3) AS sum_disc_price,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
)
def rel_rollup_pricing(spark, sf_dir):
    """RollupStream / StatsStream: grouped aggregation with pushdown-able
    filter (TPC-H Q1 shape). Decimal sums for cross-engine exactness."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("count_order"),
            F.round(F.sum(_dec("l_quantity")).cast("double"), 3).alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double"), 3).alias(
                "sum_base_price"
            ),
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)")
                ).cast("double"),
                3,
            ).alias("sum_disc_price"),
            F.round(
                F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 4
            ).alias("avg_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@gate(
    "rel_join_top_customers",
    """SELECT c.c_name AS c_name,
  count(*) AS n_orders,
  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_name ORDER BY revenue DESC, c_name ASC LIMIT 10""",
)
def rel_join_top_customers(spark, sf_dir):
    """HashJoinStream: broadcast hash join (small dim) + rollup + top-k."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_name"))
        .limit(10)
    )


@gate(
    "rel_brand_part_join",
    """SELECT p.p_brand AS p_brand, count(*) AS n_items,
  round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE), 3) AS total_qty
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size >= 20
GROUP BY p.p_brand ORDER BY p_brand ASC""",
)
def rel_brand_part_join(spark, sf_dir):
    """FetchStream-style enrichment join + facet rollup."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") >= 20)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(_dec("l_quantity")).cast("double"), 3).alias("total_qty"),
        )
        .orderBy(F.asc("p_brand"))
    )


@gate(
    "rel_semijoin_segments",
    """SELECT c.c_mktsegment AS c_mktsegment, count(*) AS n_customers
FROM customer c WHERE c.c_custkey IN
  (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_mktsegment ORDER BY c_mktsegment ASC""",
)
def rel_semijoin_segments(spark, sf_dir):
    """IntersectStream: semi-join (customers having recent orders)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.asc("c_mktsegment"))
    )


@gate(
    "rel_antijoin_no_orders",
    """SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey ASC""",
)
def rel_antijoin_no_orders(spark, sf_dir):
    """ComplementStream: anti-join (customers with no orders at all)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy(F.asc("c_custkey"))
    )


@gate(
    "rel_leftouter_nation_counts",
    """SELECT n.n_name AS n_name, count(c.c_custkey) AS n_customers
FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n_name ASC""",
)
def rel_leftouter_nation_counts(spark, sf_dir):
    """LeftOuterJoinStream: preserve unmatched left rows (count=0)."""
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
        .orderBy(F.asc("n_name"))
    )


@gate(
    "rel_window_top2_orders",
    """SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders) WHERE rnk <= 2
ORDER BY o_custkey ASC, rnk ASC""",
)
def rel_window_top2_orders(spark, sf_dir):
    """Grouping module two-pass top-docs-per-group → window row_number."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 2)
        .orderBy(F.asc("o_custkey"), F.asc("rnk"))
    )


@gate(
    "rel_collapse_best_order",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders) WHERE rnk = 1
ORDER BY o_custkey ASC""",
)
def rel_collapse_best_order(spark, sf_dir):
    """CollapsingQParserPlugin: keep best row per collapse key."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy(F.asc("o_custkey"))
    )


@gate(
    "rel_group_ngroups",
    """SELECT count(DISTINCT o_custkey) AS n_groups, count(*) AS n_docs
FROM orders""",
)
def rel_group_ngroups(spark, sf_dir):
    """Grouping ngroups=true: the total distinct-group count beside the
    doc count (reference lucene/grouping/src/java/org/apache/lucene/
    search/grouping/AllGroupsCollector.java; Solr exposes it as the
    group.ngroups param). One partial+final distinct-agg, no sort."""
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_groups"),
        F.count("*").alias("n_docs"),
    )


@gate(
    "rel_interval_facets",
    """SELECT CASE WHEN o_totalprice < 50000 THEN '(*,50k)'
            WHEN o_totalprice < 150000 THEN '[50k,150k)'
            ELSE '[150k,*)' END AS ival,
       count(*) AS n
FROM orders GROUP BY ival ORDER BY ival""",
)
def rel_interval_facets(spark, sf_dir):
    """Interval faceting: arbitrary user-defined intervals per field,
    each doc counted into every interval containing it (reference
    solr/core/.../request/IntervalFacets.java — distinct from range
    faceting's fixed gap). Disjoint intervals here → one CASE hash-agg;
    overlapping intervals would be a small explode of the interval
    list."""
    o = load(spark, sf_dir, "orders")
    ival = (
        F.when(F.col("o_totalprice") < 50000, "(*,50k)")
        .when(F.col("o_totalprice") < 150000, "[50k,150k)")
        .otherwise("[150k,*)")
    )
    return (
        o.groupBy(ival.alias("ival"))
        .agg(F.count("*").alias("n"))
        .orderBy("ival")
    )


@gate(
    "rel_expand_groups",
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders) WHERE rnk BETWEEN 2 AND 3
ORDER BY o_custkey ASC, rnk ASC""",
)
def rel_expand_groups(spark, sf_dir):
    """ExpandComponent: after collapsing to the best row per group,
    expand returns the next expand.rows=2 rows of each collapsed group
    under the same sort (reference solr/core/.../handler/component/
    ExpandComponent.java — 'expands the collapsed groups for the
    current page'). Same single-shuffle window as collapse; rank
    slice [2, 1+rows]."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk").between(2, 3))
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy(F.asc("o_custkey"), F.asc("rnk"))
    )


@gate(
    "rel_timeseries_daily",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
  event_type, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 3) AS total_value
FROM events GROUP BY day, event_type
ORDER BY day ASC, event_type ASC""",
)
def rel_timeseries_daily(spark, sf_dir):
    """TimeSeriesStream / FacetRange: date-histogram bucketing."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_dec("value")).cast("double"), 3).alias("total_value"),
        )
        .orderBy(F.asc("day"), F.asc("event_type"))
    )


@gate(
    "rel_having_frequent_buyers",
    """SELECT o_custkey, count(*) AS n_orders FROM orders
GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey ASC""",
)
def rel_having_frequent_buyers(spark, sf_dir):
    """HavingStream: post-aggregation predicate."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
        .orderBy(F.asc("o_custkey"))
    )


@gate(
    "rel_unique_status_priority",
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
ORDER BY o_orderstatus ASC, o_orderpriority ASC""",
)
def rel_unique_status_priority(spark, sf_dir):
    """UniqueStream / DistinctOperation: dedup on selected columns."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy(F.asc("o_orderstatus"), F.asc("o_orderpriority"))
    )


@gate(
    "rel_merge_sorted_union",
    """SELECT o_orderkey, o_totalprice FROM (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000)
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""",
)
def rel_merge_sorted_union(spark, sf_dir):
    """MergeStream: ordered union of two sorted streams (+RankStream)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_totalprice")
    b = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey", "o_totalprice")
    return a.unionByName(b).orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(25)


@gate(
    "rel_stats_lineitem",
    """SELECT count(*) AS n_rows,
  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_price,
  count(DISTINCT l_partkey) AS n_parts
FROM lineitem""",
)
def rel_stats_lineitem(spark, sf_dir):
    """StatsComponent: global min/max/sum/count/count-distinct pushdown."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("sum_price"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@gate(
    "rel_range_query_events",
    """SELECT event_type, count(*) AS n FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
  AND value BETWEEN 50 AND 300
GROUP BY event_type ORDER BY event_type ASC""",
)
def rel_range_query_events(spark, sf_dir):
    """PointRangeQuery: numeric + timestamp range predicates (pushed to scan)."""
    e = load(spark, sf_dir, "events")
    return (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
            & F.col("value").between(50, 300)
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.asc("event_type"))
    )


@gate(
    "rel_search_after_page",
    """SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice < 450000 OR (o_totalprice = 450000 AND o_orderkey > 0)
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
)
def rel_search_after_page(spark, sf_dir):
    """searchAfter / CursorMark: keyset pagination below an anchor."""
    o = load(spark, sf_dir, "orders")
    anchor_price, anchor_key = 450000, 0
    return (
        o.filter(
            (F.col("o_totalprice") < anchor_price)
            | ((F.col("o_totalprice") == anchor_price) & (F.col("o_orderkey") > anchor_key))
        )
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@gate(
    "rel_blockjoin_orders_with_big_item",
    """SELECT o.o_orderkey, o.o_totalprice FROM orders o
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
ORDER BY o.o_orderkey ASC LIMIT 50""",
)
def rel_blockjoin_orders_with_big_item(spark, sf_dir):
    """ToParentBlockJoinQuery: parent docs having a matching child."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        o.join(li.select("l_orderkey"), o.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.asc("o_orderkey"))
        .limit(50)
    )


@gate(
    "rel_blockjoin_children",
    """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity FROM lineitem l
WHERE l.l_orderkey IN (SELECT o_orderkey FROM orders
                       WHERE o_totalprice >= 400000)
ORDER BY l.l_orderkey ASC, l.l_linenumber ASC LIMIT 60""",
)
def rel_blockjoin_children(spark, sf_dir):
    """ToChildBlockJoinQuery: child docs whose PARENT matches the
    parent-side query (reference lucene/join/src/java/org/apache/
    lucene/search/join/ToChildBlockJoinQuery.java — the inverse of
    ToParent). Semi-join from the filtered parent keys; the parent
    side broadcasts when selective."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 400000
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(
            o.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        )
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy(F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(60)
    )


@gate(
    "rel_cartesian_explode",
    """SELECT r.r_name AS r_name, n.n_name AS n_name
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
ORDER BY r_name ASC, n_name ASC""",
)
def rel_cartesian_explode(spark, sf_dir):
    """CartesianProductStream analog: small-dim expansion join."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return (
        r.join(F.broadcast(n), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name")
        .orderBy(F.asc("r_name"), F.asc("n_name"))
    )


@gate(
    "rel_percentile_prices",
    """SELECT o_orderpriority,
  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
  round(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority ASC""",
)
def rel_percentile_prices(spark, sf_dir):
    """PercentileAgg (exact interpolated percentile, not approx)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        )
        .orderBy(F.asc("o_orderpriority"))
    )


# Training-data pipeline gates (dedup / similarity / text-quality /
# multimodal) register themselves into the same PARTS maps; gate_suites
# then builds the curated 50-entry QUERIES/ORACLE_SQL registry.
from . import gate_td  # noqa: E402,F401  (import side-effect: registration)
from . import gate_ext  # noqa: E402,F401  (import side-effect: registration)
from . import gate_ext2  # noqa: E402,F401  (import side-effect: registration)
from . import gate_sim  # noqa: E402,F401  (import side-effect: registration)
from . import gate_suites  # noqa: E402,F401  (builds QUERIES/ORACLE_SQL)
