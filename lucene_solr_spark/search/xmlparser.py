"""XML query parser (CoreParser): queries declared as XML elements.

Reference: lucene/queryparser/src/java/org/apache/lucene/queryparser/
xml/CoreParser.java:77-117 (the builder registry) and xml/builders/*
(per-element attribute contracts — boost defaults 1.0, BooleanQuery
``occurs`` ∈ should|must|mustNot|filter case-insensitive
(BooleanQueryBuilder.java:73-83), SpanNear requires ``slop`` and
defaults ``inOrder=false`` (SpanNearBuilder.java:42-44), SpanFirst
``end`` defaults 1, RangeQuery include bounds default true,
PointRangeQuery ``type`` defaults int, TermsQuery/DisMax carry
``minimumNumberShouldMatch``/``tieBreaker``).

Supported elements (CoreParser's full registry): TermQuery, TermsQuery,
MatchAllDocsQuery, BooleanQuery/Clause, RangeQuery, PointRangeQuery,
DisjunctionMaxQuery, ConstantScoreQuery, UserQuery (classic syntax via
search/queryparser.py), SpanTerm, SpanOr, SpanOrTerms, SpanNear,
SpanFirst, SpanNot (Include/Exclude), BoostingTermQuery (payload-
scored, needs ``payload_postings``).

Scoring model: each element evaluates to DataFrame(doc_id, score) and
parents combine frames — BooleanQuery sums clause scores over docs
satisfying every must/filter clause minus mustNot docs (should scores
join in as optional contributions, Boolean2ScorerSupplier /
ReqOptSumScorer), DisjunctionMax takes ``max + tie*(sum-max)``,
ConstantScore replaces the child's scores with its boost. Range /
point-range clauses are constant-score doc filters over the stored
fields (the builders' TermRangeQuery/PointRangeQuery rewrite).

Declared divergences: span operands inside SpanNear/SpanFirst/SpanNot
must be terms or term-disjunctions (flat slots, as search/surround.py);
BoostingTermQuery scores the payload aggregate without the span BM25
addend (includeSpanScore=false, matching the engine's payload gate).

Scale shape: identical to the other parser front-ends — one shared
broadcast-weighted scoring table for every term leaf, bucket-pruned
span leaves, doc_id-keyed joins throughout, no driver-side data.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..functions import bm25
from .executor import execute_parsed
from .phrase import search_phrase, span_first, span_not, span_or
from .scoring import empty_scores, scored_postings, term_weights

__all__ = ["execute_xml"]

_SPAN_TAGS = {"SpanTerm", "SpanOr", "SpanOrTerms", "SpanNear",
              "SpanFirst", "SpanNot"}


def _b(e, name: str, default: bool) -> bool:
    v = e.get(name)
    return default if v is None else v.lower() == "true"


def _text(e) -> str:
    return (e.text or "").strip()


def execute_xml(
    xml_query: str,
    tables,
    pos_index=None,
    stored: DataFrame | None = None,
    payload_postings: DataFrame | None = None,
    k: int | None = None,
    precision: str = "float32",
    analyzer=None,
) -> DataFrame:
    """Parse + execute one XML query element tree → DataFrame(doc_id,
    score) ordered by (score desc, doc_id asc), top-k when ``k``.

    ``stored`` (doc_id + field columns) backs RangeQuery /
    PointRangeQuery / MatchAllDocsQuery; ``pos_index`` backs the span
    family and UserQuery phrases; ``payload_postings`` (doc_id, term,
    pos, payload) backs BoostingTermQuery."""
    try:
        root = ET.fromstring(xml_query)
    except ET.ParseError as exc:  # ParserException contract
        raise ValueError(f"xml query parse error: {exc}") from None

    spark = tables.dictionary.sparkSession
    score_type = "double" if precision == "double" else "float"
    empty = empty_scores(spark, "double")

    def _an(t: str) -> list:
        return analyzer(t) if analyzer else [t.lower()]

    # ---- one shared scoring table for every analyzed term leaf ----
    leaf_terms: list = []

    def collect(e):
        if e.tag in ("TermQuery", "TermsQuery", "SpanTerm", "SpanOrTerms",
                     "Include", "Exclude"):
            for w in _text(e).split():
                leaf_terms.extend(_an(w))
        for c in e:
            collect(c)

    collect(root)
    scoring = None
    if leaf_terms:
        weights = term_weights(
            tables.lookup_df(leaf_terms), tables.doc_count, leaf_terms, 1.0,
            bm25.K1, bm25.B, precision,
        )
        scoring = scored_postings(
            tables, weights, bm25.K1, bm25.B, precision
        ).select(
            "doc_id", "term", F.col("term_score").cast("double").alias("term_score")
        )

    def term_frame(t: str, w: float) -> DataFrame:
        toks = _an(t)
        if not toks:
            return empty
        return scoring.filter(F.col("term") == toks[0]).select(
            "doc_id", (F.col("term_score") * F.lit(w)).alias("score")
        )

    def need_pos(tag):
        if pos_index is None:
            raise ValueError(f"<{tag}> needs a positional pos_index")

    def need_stored(tag, fld=None):
        if stored is None:
            raise ValueError(f"<{tag}> needs the stored fields DataFrame")
        if fld is not None and fld not in stored.columns:
            raise ValueError(f"<{tag}>: unknown stored field {fld!r}")

    def span_slot(e) -> tuple:
        """A span operand element → tuple of slot-alternative terms."""
        if e.tag == "SpanTerm":
            return tuple(_an(_text(e))[:1])
        if e.tag == "SpanOrTerms":
            return tuple(
                t for w in _text(e).split() for t in _an(w)[:1]
            )
        if e.tag == "SpanOr" and all(c.tag == "SpanTerm" for c in e):
            return tuple(t for c in e for t in _an(_text(c))[:1])
        raise ValueError(
            f"span operands must be SpanTerm/SpanOrTerms/SpanOr-of-terms "
            f"(flat slots), got <{e.tag}> — nested span composition is a "
            "declared divergence from SpanNearBuilder.java"
        )

    def ev(e) -> DataFrame:
        tag = e.tag
        w = float(e.get("boost", 1.0))
        if tag == "TermQuery":
            return term_frame(_text(e), w)
        if tag in ("SpanTerm", "SpanOr", "SpanOrTerms"):
            need_pos(tag)
            terms = list(span_slot(e))
            if not terms:
                return empty
            return span_or(
                pos_index, terms, k=None, boost=w, precision=precision
            ).select("doc_id", F.col("score").cast("double").alias("score"))
        if tag == "SpanNear":
            need_pos(tag)
            slop = int(e.get("slop"))
            ordered = _b(e, "inOrder", False)
            slots = [list(span_slot(c)) for c in e]
            if any(not s for s in slots):
                return empty
            return search_phrase(
                pos_index, slots, slop=slop, ordered=ordered, k=None,
                boost=w, precision=precision,
            ).select("doc_id", F.col("score").cast("double").alias("score"))
        if tag == "SpanFirst":
            need_pos(tag)
            end = int(e.get("end", 1))
            kids = list(e)
            if len(kids) != 1 or kids[0].tag != "SpanTerm":
                raise ValueError("<SpanFirst> takes one SpanTerm child")
            t = _an(_text(kids[0]))
            if not t:
                return empty
            return span_first(
                pos_index, t[0], end, k=None, boost=w, precision=precision
            ).select("doc_id", F.col("score").cast("double").alias("score"))
        if tag == "SpanNot":
            need_pos(tag)
            inc = e.find("Include")
            exc = e.find("Exclude")
            if inc is None or exc is None:
                raise ValueError("<SpanNot> needs Include and Exclude")
            ti = _an(_text(inc if len(inc) == 0 else inc[0]))
            te = _an(_text(exc if len(exc) == 0 else exc[0]))
            if not ti:
                return empty
            if not te:
                return term_frame(_text(inc if len(inc) == 0 else inc[0]), w)
            return span_not(
                pos_index, ti[0], te[0], k=None, boost=w,
                precision=precision,
            ).select("doc_id", F.col("score").cast("double").alias("score"))
        if tag == "TermsQuery":
            msm = int(e.get("minimumNumberShouldMatch", 0))
            frames = [
                term_frame(t, 1.0).withColumn("_c", F.lit(i))
                for i, t in enumerate(_text(e).split())
            ]
            if not frames:
                return empty
            u = reduce(lambda a, b: a.unionByName(b), frames)
            g = u.groupBy("doc_id").agg(
                F.sum("score").alias("score"),
                F.count_distinct("_c").alias("_n"),
            )
            if msm > 0:
                g = g.filter(F.col("_n") >= msm)
            return g.select(
                "doc_id", (F.col("score") * F.lit(w)).alias("score")
            )
        if tag == "MatchAllDocsQuery":
            need_stored(tag)
            return stored.select(
                "doc_id", (F.lit(1.0) * F.lit(w)).alias("score")
            )
        if tag == "RangeQuery" or tag == "PointRangeQuery":
            fld = e.get("fieldName")
            need_stored(tag, fld)
            lo, hi = e.get("lowerTerm"), e.get("upperTerm")
            if tag == "PointRangeQuery":
                col = F.col(fld).cast("double")
                lo = float(lo) if lo is not None else None
                hi = float(hi) if hi is not None else None
                lo_i = hi_i = True
            else:
                col = F.col(fld).cast("string")
                lo = lo or None
                hi = hi or None
                lo_i = _b(e, "includeLower", True)
                hi_i = _b(e, "includeUpper", True)
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (col >= lo if lo_i else col > lo)
            if hi is not None:
                cond = cond & (col <= hi if hi_i else col < hi)
            return stored.filter(cond).select(
                "doc_id", (F.lit(1.0) * F.lit(w)).alias("score")
            )
        if tag == "ConstantScoreQuery":
            kids = list(e)
            if len(kids) != 1:
                raise ValueError("<ConstantScoreQuery> takes one child")
            return ev(kids[0]).select(
                "doc_id", (F.lit(1.0) * F.lit(w)).alias("score")
            ).distinct()
        if tag == "DisjunctionMaxQuery":
            tie = float(e.get("tieBreaker", 0.0))
            frames = [ev(c) for c in e]
            if not frames:
                return empty
            u = reduce(lambda a, b: a.unionByName(b), frames)
            return u.groupBy("doc_id").agg(
                (
                    F.max("score")
                    + F.lit(tie) * (F.sum("score") - F.max("score"))
                ).alias("score")
            ).select("doc_id", (F.col("score") * F.lit(w)).alias("score"))
        if tag == "UserQuery":
            return execute_parsed(
                _text(e), tables, pos_index, k=None, precision=precision,
                analyzer=analyzer, stored=stored,
            ).select(
                "doc_id",
                (F.col("score").cast("double") * F.lit(w)).alias("score"),
            )
        if tag == "BoostingTermQuery":
            if payload_postings is None:
                raise ValueError(
                    "<BoostingTermQuery> needs payload_postings (see "
                    "analysis/payloads.delimited_payload_postings)"
                )
            from ..analysis.payloads import payload_score

            t = _an(_text(e))
            if not t:
                return empty
            return payload_score(payload_postings, t[0], "avg").select(
                "doc_id",
                (F.col("score") * F.lit(w)).alias("score"),
            )
        if tag == "BooleanQuery":
            msm = int(e.get("minimumNumberShouldMatch", 0))
            musts, shoulds, nots, filters = [], [], [], []
            for cl in e:
                if cl.tag != "Clause":
                    raise ValueError(
                        f"<BooleanQuery> children must be <Clause>, got "
                        f"<{cl.tag}>"
                    )
                occ = (cl.get("occurs") or "should").lower()
                kids = list(cl)
                if len(kids) != 1:
                    raise ValueError("<Clause> takes exactly one subquery")
                q = ev(kids[0])
                if occ == "must":
                    musts.append(q)
                elif occ == "should":
                    shoulds.append(q)
                elif occ == "mustnot":
                    nots.append(q)
                elif occ == "filter":
                    filters.append(q)
                else:
                    raise ValueError(
                        f'Invalid value for "occurs" attribute of clause: '
                        f"{occ}"
                    )
            base = None
            for i, m in enumerate(musts):
                if base is None:
                    base = m
                else:
                    base = base.join(
                        m.withColumnRenamed("score", f"_m{i}"), "doc_id"
                    ).select(
                        "doc_id",
                        (F.col("score") + F.col(f"_m{i}")).alias("score"),
                    )
            for f_ in filters:  # FILTER: restricts, contributes 0 score
                docs = f_.select("doc_id").distinct()
                if base is None:
                    base = docs.withColumn("score", F.lit(0.0))
                else:
                    base = base.join(docs, "doc_id", "left_semi")
            sh = None
            if shoulds:
                u = reduce(
                    lambda a, b: a.unionByName(b),
                    [
                        s.withColumn("_c", F.lit(i))
                        for i, s in enumerate(shoulds)
                    ],
                )
                sh = u.groupBy("doc_id").agg(
                    F.sum("score").alias("_s"),
                    F.count_distinct("_c").alias("_n"),
                )
            if base is None:
                if sh is None:
                    return empty
                base = sh.filter(F.col("_n") >= max(msm, 0)).select(
                    "doc_id", F.col("_s").alias("score")
                )
            elif sh is not None:
                base = base.join(sh, "doc_id", "left").select(
                    "doc_id",
                    (
                        F.col("score") + F.coalesce(F.col("_s"), F.lit(0.0))
                    ).alias("score"),
                    F.coalesce(F.col("_n"), F.lit(0)).alias("_n"),
                )
                if msm > 0:
                    base = base.filter(F.col("_n") >= msm)
                base = base.select("doc_id", "score")
            for n in nots:
                base = base.join(n.select("doc_id"), "doc_id", "left_anti")
            return base.select(
                "doc_id", (F.col("score") * F.lit(w)).alias("score")
            )
        raise ValueError(f"unsupported XML query element <{tag}>")

    out = ev(root).select(
        "doc_id", F.col("score").cast(score_type).alias("score")
    ).orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(k) if k is not None else out
