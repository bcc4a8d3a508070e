"""Searcher — the IndexSearcher / SolrCore request-handler analog.

One front door over the engine's pieces, mirroring the reference's
query lifecycle (SURVEY §3.1: parse → rewrite → weight → score →
collect; reference search/IndexSearcher.java:420-470, solr/core/.../
handler/component/SearchHandler.java):

    idx = Searcher.build(transcripts)          # or Searcher(index, ...)
    hits = idx.search('+spark merge -vector role:user', k=10)
    hits = idx.search('"slow query"~2 fast', k=10)     # needs positions
    idx.explain(["spark", "merge"])                     # debugQuery
    idx.highlight(hits, ["spark", "merge"])             # best fragments

Everything returns DataFrames — the searcher composes plans, it never
collects. ``build`` indexes the corpus once, into a segmented index
(index/segments.py); term clauses score over its decoded postings
relation and phrase clauses over its positional blocks. For the
10^12-turn top-k serving path, block-max WAND (search/wand.py) reads
the same index; this facade wraps the feature-complete engine that
backs the full query grammar (filters, groups, phrases, ReqOptSum),
exactly like Solr's request handler fronting the Lucene searcher.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .search.executor import execute_parsed
from .search.queryparser import parse_query

__all__ = ["Searcher"]


class Searcher:
    """Feature-complete search surface over one index.

    index: a SegmentedIndex (``build`` output), or an IndexTables from
    index/splitter.py or search/multireader.py.
    pos_index: positional SegmentedIndex — required for phrase queries;
    ``build(with_positions=True)`` passes the index itself.
    stored: defaults to ``index.stored`` — the metadata source for
    ``field:value`` / range filters."""

    def __init__(self, index, pos_index=None, stored=None):
        self.index = index
        self.pos_index = pos_index
        self.stored = stored if stored is not None else index.stored

    @classmethod
    def build(
        cls,
        transcripts: DataFrame,
        analyzer: str = "standard",
        with_positions: bool = False,
        index_dir: str | None = None,
    ) -> "Searcher":
        """Index a transcript-shaped DataFrame and open a searcher on it
        (IndexWriter.addDocuments + DirectoryReader.open in one step).

        One segmented index is built under ``index_dir`` (if not given,
        a temp dir that is removed when the process exits).
        with_positions=True stores positions in it
        (DOCS_AND_FREQS_AND_POSITIONS), so phrase queries work straight
        off the build path."""
        from .index.segments import build_segmented_index, temp_index_dir

        index = build_segmented_index(
            transcripts,
            index_dir or temp_index_dir("lss_searcher_"),
            analyzer=analyzer,
            index_positions=with_positions,
        )
        return cls(index, pos_index=index if with_positions else None)

    def parse(self, q: str):
        return parse_query(q)

    def search(
        self,
        q: str,
        k: int | None = 10,
        precision: str = "float32",
        with_stored: bool = False,
        mm: str | None = None,
        defType: str = "lucene",
    ) -> DataFrame:
        """Query string → (doc_id, score) top-k, float32 Lucene-parity
        by default. ``with_stored`` joins the stored fields onto the
        hits (the fl=* response shape).

        defType selects the syntax, Solr's defType= request parameter
        (search/QParserPlugin registry): 'lucene' (classic, default),
        'simple' (SimpleQueryParser), 'surround' (W/N distance ops),
        'xml' (CoreParser XML). All compile to the same score-frame
        algebra, so every defType gets the identical executor and
        plans.

        mm: Solr minimum-should-match spec ("3", "-2", "75%",
        "2<-25% 9<-3" — search/mmspec.py). As in the reference it
        constrains the OPTIONAL clauses, so it applies to all-SHOULD
        term queries (the dismax q= shape) under the classic defType;
        other query shapes reject it loudly rather than silently
        ignoring the parameter."""
        if defType != "lucene":
            if mm is not None:
                raise ValueError("mm applies to defType='lucene' only")
            runners = {
                "simple": "simpleparser.execute_simple",
                "surround": "surround.execute_surround",
                "xml": "xmlparser.execute_xml",
            }
            if defType not in runners:
                raise ValueError(
                    f"unknown defType {defType!r} "
                    f"(have lucene, {', '.join(sorted(runners))})"
                )
            mod_name, fn_name = runners[defType].split(".")
            import importlib

            mod = importlib.import_module(f".search.{mod_name}", __package__)
            hits = getattr(mod, fn_name)(
                q,
                self.index,
                pos_index=self.pos_index,
                k=k,
                precision=precision,
            )
            if with_stored:
                hits = hits.join(self.stored, "doc_id").orderBy(
                    F.desc("score"), F.asc("doc_id")
                )
            return hits
        if mm is not None:
            from .search.bruteforce import search_bruteforce
            from .search.mmspec import calculate_min_should_match

            p = parse_query(q)
            if (
                p.is_simple() and not p.phrases and p.must == []
                and p.should and p.mode == "disjunctive"
            ):
                msm = calculate_min_should_match(len(p.should), mm)
                hits = search_bruteforce(
                    self.index,
                    [t for t, _ in p.should],
                    mode="disjunctive",
                    k=None if p.must_not else k,
                    boost={t: b for t, b in p.should},
                    precision=precision,
                    min_should_match=msm,
                )
                if p.must_not:
                    # MUST_NOT still excludes under mm (ReqExclScorer):
                    # anti-join the prohibited terms' doc set, then
                    # re-apply the top-k cut
                    excl = self.index.postings_of(p.must_not).select("doc_id")
                    hits = hits.join(excl, "doc_id", "left_anti").orderBy(
                        F.desc("score"), F.asc("doc_id")
                    )
                    if k is not None:
                        hits = hits.limit(k)
                if with_stored:
                    hits = hits.join(self.stored, "doc_id").orderBy(
                        F.desc("score"), F.asc("doc_id")
                    )
                return hits
            raise ValueError(
                "mm applies to all-SHOULD term queries (the dismax q= "
                "shape, optionally with -prohibited terms); this query "
                "has required/phrase/field clauses"
            )
        hits = execute_parsed(
            q,
            self.index,
            pos_index=self.pos_index,
            k=k,
            precision=precision,
            stored=self.stored,
        )
        if with_stored:
            hits = hits.join(self.stored, "doc_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
        return hits

    def explain(self, terms, **kwargs) -> DataFrame:
        """debugQuery: per-(doc, term) BM25 factor table."""
        from .search.explain import explain_scores

        return explain_scores(self.index, terms, **kwargs)

    def rerank_expression(
        self,
        q: str,
        expr: str,
        k: int = 10,
        rerank_docs: int = 50,
        bindings: dict | None = None,
        **search_kwargs,
    ) -> DataFrame:
        """FunctionScoreQuery with a lucene-expressions source — the
        expressions module's headline use (JavascriptCompiler javadoc:
        rank by ``(0.3*popularity)/10 + 0.7*_score``): run the base
        query, take the top ``rerank_docs``, re-score them with the
        compiled expression, return the top ``k`` by the new score.

        ``_score`` binds to the base BM25 score; every other free
        variable binds to the stored-field column of the same name
        unless overridden in ``bindings``.  The compiled expression is
        a Catalyst Column (functions/jsexpr.py) evaluated inside the
        same plan as the stored-field join — no extra pass, no UDF."""
        from .functions.jsexpr import (compile_expression,
                                       expression_variables)

        names = expression_variables(expr)
        binds = dict(bindings or {})
        for v in names:
            if v not in binds:
                binds[v] = "score" if v == "_score" else v
        ce = compile_expression(expr, binds)
        base = self.search(q, k=rerank_docs, **search_kwargs)
        need_stored = any(
            b not in ("score", "doc_id") for b in binds.values()
        )
        frame = base.join(self.stored, "doc_id") if need_stored else base
        return (
            frame.select(
                "doc_id",
                F.col("score").alias("base_score"),
                ce.column().alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def highlight(
        self,
        hits: DataFrame,
        terms,
        text_col: str = "text",
        frag_size: int = 100,
        lead: int = 30,
    ) -> DataFrame:
        """Best-fragment markup for the hits' stored text."""
        from .search.highlight import highlight

        docs = hits.select("doc_id", "score").join(self.stored, "doc_id")
        return highlight(
            docs, text_col, terms, frag_size=frag_size, lead=lead
        ).orderBy(F.desc("score"), F.asc("doc_id"))
