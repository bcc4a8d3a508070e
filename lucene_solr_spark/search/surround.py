"""Surround query language: positional (W/N) + boolean operators.

Reference: lucene/queryparser/src/java/org/apache/lucene/queryparser/
surround/parser/QueryParser.jj (grammar: OR < AND < NOT < N < W <
primary, all left-associative; infix and prefix notation for the
non-unary operators), surround/query/DistanceQuery.java:97
(``new SpanNearQuery(clauses, opDistance - 1, ordered)`` — W is the
ordered distance operator, N unordered, distance defaults to 1 =
adjacent, 2-99 as an operator prefix: ``3W(a, b)``), and
surround/query/SrndTruncQuery.java / SrndPrefixQuery.java (``*`` /
``?`` truncation expanded against the term dictionary; QueryParser.jj
MINIMUM_PREFIX_LENGTH = MINIMUM_CHARS_IN_TRUNC = 3).

Semantics rebuilt here:

- ``AND``/``OR``/``NOT`` lower to BooleanQuery shapes: AND = doc-id
  intersection summing subscores, OR = union summing subscores, NOT =
  first operand's scores anti-joined on the rest (ReqExclScorer).
- ``nW(...)`` / ``nN(...)`` lower to the positional span engine
  (search/phrase.py search_phrase) with ``slop = n - 1``; an OR of
  terms/truncations as a distance operand becomes per-slot
  alternatives (SpanOr; MultiPhraseQuery slots). Unordered N is
  2-operand (the engine's SpanNearQuery inOrder=false shape).
- Truncations expand against the term dictionary, capped at
  ``max_clause_count`` = 1024 (BooleanQuery.TooManyClauses analog),
  and score as a disjunction of real scored TermQuerys — the
  SrndTruncQuery rewrite.
- ``^f`` weights multiply the subquery's score (SrndQuery.setWeight,
  left-associative).

Declared divergences (documented, not silent): terms pass through the
engine's analyzer (lowercase by default — the reference parser is
analysis-free and case-sensitive); a distance query nested INSIDE
another distance query raises ValueError (Lucene composes nested
SpanNears; this engine's span leaf takes flat slots); field prefixes
other than the single indexed ``text`` field raise.

Scale shape: one dictionary lookup per truncation (driver receives at
most max_clause_count terms — never postings), one shared
per-(doc, term) scoring table reused by every term leaf (broadcast
weights + norm cache exactly as executor._execute_general), span
operands answered by the partition-pruned positional index. Every
combining step is a doc_id-keyed join/aggregation — no driver-side
data, no cartesian products.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..functions import bm25
from .executor import _like_pattern
from .phrase import search_phrase
from .scoring import empty_scores, scored_postings, term_weights

__all__ = ["parse_surround", "execute_surround"]

_MIN_PREFIX = 3        # QueryParser.jj MINIMUM_PREFIX_LENGTH
_MIN_TRUNC_CHARS = 3   # QueryParser.jj MINIMUM_CHARS_IN_TRUNC

_SCAN = re.compile(
    r'"(?:[^"\\]|\\["\\])+"\*?'   # QUOTED / TRUNCQUOTED
    r"|[(),:]"
    r"|\^\d+(?:\.\d+)?"           # CARAT + NUMBER (boost lex state)
    r"|[^\s(),:^\"]+"             # TERM-ish (may carry * / ?)
)
_DIST = re.compile(r"^(\d{1,2})?([wn])$", re.IGNORECASE)


def _tokenize(q: str) -> list:
    """→ [(type, value)]; types: lparen rparen comma colon boost
    or and not dist(=(n, ordered)) term pre wild."""
    out = []
    for raw in _SCAN.findall(q):
        if raw == "(":
            out.append(("lparen", None))
        elif raw == ")":
            out.append(("rparen", None))
        elif raw == ",":
            out.append(("comma", None))
        elif raw == ":":
            out.append(("colon", None))
        elif raw.startswith("^"):
            w = float(raw[1:])
            if w <= 0.0:
                raise ValueError(f"Cannot handle boost value: {raw[1:]}")
            out.append(("boost", w))
        elif raw.startswith('"'):
            trunc = raw.endswith("*")
            inner = raw[1:-2] if trunc else raw[1:-1]
            inner = inner.replace('\\"', '"').replace("\\\\", "\\")
            if trunc:
                if len(inner) < _MIN_PREFIX:
                    raise ValueError(f"Too unrestrictive truncation: {raw}")
                out.append(("pre", inner))
            else:
                out.append(("term", inner))
        else:
            low = raw.lower()
            if low in ("or", "and", "not"):
                out.append((low, None))
                continue
            m = _DIST.match(raw)
            if m and (m.group(1) is None or 2 <= int(m.group(1)) <= 99):
                n = int(m.group(1)) if m.group(1) else 1
                out.append(("dist", (n, m.group(2).lower() == "w")))
                continue
            if raw.endswith("*") and "*" not in raw[:-1] and "?" not in raw:
                if len(raw) - 1 < _MIN_PREFIX:  # allowedSuffix
                    raise ValueError(f"Too unrestrictive truncation: {raw}")
                out.append(("pre", raw[:-1]))
            elif "*" in raw or "?" in raw:
                normal = sum(1 for c in raw if c not in "*?")
                if normal < _MIN_TRUNC_CHARS:  # allowedTruncation
                    raise ValueError(f"Too unrestrictive truncation: {raw}")
                out.append(("wild", raw))
            else:
                out.append(("term", raw))
    return out


class _Parser:
    """Recursive descent mirroring QueryParser.jj's productions."""

    def __init__(self, toks: list):
        self.toks = toks
        self.i = 0

    def peek(self, ahead: int = 0):
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else ("eof", None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, typ: str):
        t = self.next()
        if t[0] != typ:
            raise ValueError(f"surround parse error: expected {typ}, got {t}")
        return t

    # TopSrndQuery := FieldsQuery EOF
    def top(self):
        q = self.fields_query()
        if self.peek()[0] != "eof":
            raise ValueError(
                f"surround parse error: trailing input at {self.peek()}"
            )
        return q

    # FieldsQuery := (TERM ':')* OrQuery — single-field engine: only the
    # indexed 'text' field is accepted (declared divergence).
    def fields_query(self):
        while self.peek()[0] == "term" and self.peek(1)[0] == "colon":
            fld = self.next()[1]
            self.next()
            if fld != "text":
                raise ValueError(
                    f"unsupported field {fld!r}: this engine indexes the "
                    "single 'text' field"
                )
        return self.or_query()

    def _infix(self, op: str, sub):
        q = sub()
        cs = None
        while self.peek()[0] == op:
            self.next()
            if cs is None:
                cs = [q]
            cs.append(sub())
        return {"k": op, "cs": cs, "w": 1.0} if cs else q

    def or_query(self):
        return self._infix("or", self.and_query)

    def and_query(self):
        return self._infix("and", self.not_query)

    def not_query(self):
        return self._infix("not", self.n_query)

    # infix distance is LEFT-ASSOCIATIVE AND BINARY: a W b W c nests
    # (QueryParser.jj NQuery/WQuery re-wrap the running query)
    def _dist_infix(self, ordered: bool, sub):
        q = sub()
        while self.peek()[0] == "dist" and self.peek()[1][1] == ordered:
            n, _ = self.next()[1]
            rhs = sub()
            q = {"k": "dist", "d": n, "ordered": ordered,
                 "cs": [q, rhs], "w": 1.0}
        return q

    def n_query(self):
        return self._dist_infix(False, self.w_query)

    def w_query(self):
        return self._dist_infix(True, self.primary)

    # PrimaryQuery := '(' FieldsQuery ')' | PrefixOperatorQuery
    #               | SimpleTerm — then OptionalWeights
    def primary(self):
        t = self.peek()
        if t[0] == "lparen":
            self.next()
            q = self.fields_query()
            self.expect("rparen")
        elif t[0] in ("or", "and") and self.peek(1)[0] == "lparen":
            self.next()
            q = {"k": t[0], "cs": self.qlist(), "w": 1.0}
        elif t[0] == "dist" and self.peek(1)[0] == "lparen":
            n, ordered = self.next()[1]
            q = {"k": "dist", "d": n, "ordered": ordered,
                 "cs": self.qlist(), "w": 1.0}
        elif t[0] in ("term", "pre", "wild"):
            self.next()
            q = {"k": t[0], "t": t[1], "w": 1.0}
        else:
            raise ValueError(f"surround parse error: unexpected {t}")
        while self.peek()[0] == "boost":  # OptionalWeights, left-assoc
            q["w"] *= self.next()[1]
        return q

    # FieldsQueryList := '(' FieldsQuery (',' FieldsQuery)+ ')'
    def qlist(self):
        self.expect("lparen")
        cs = [self.fields_query()]
        while self.peek()[0] == "comma":
            self.next()
            cs.append(self.fields_query())
        self.expect("rparen")
        if len(cs) < 2:
            raise ValueError(
                "surround parse error: prefix operator needs >= 2 "
                "comma-separated subqueries"
            )
        return cs


def parse_surround(q: str) -> dict:
    """Parse a surround query into its AST (dict nodes: k ∈ term | pre
    | wild | or | and | not | dist). Raises ValueError on syntax errors
    — the reference parser's ParseException contract."""
    toks = _tokenize(q or "")
    if not toks:
        raise ValueError("surround parse error: empty query")
    return _Parser(toks).top()


def _walk(node, fn):
    fn(node)
    for c in node.get("cs", ()):
        _walk(c, fn)


def execute_surround(
    query: str,
    tables,
    pos_index=None,
    k: int | None = None,
    precision: str = "float32",
    analyzer=None,
    max_clause_count: int = 1024,
) -> DataFrame:
    """Parse + execute a surround query → DataFrame(doc_id, score)
    ordered by (score desc, doc_id asc), top-k when ``k`` is given.

    ``tables``: the segmented/brute index tables (dictionary, postings,
    norms, doc_count). ``pos_index``: positional index, required when
    the query uses W/N. precision="double" keeps every score in ANSI-
    SQL-reproducible double math (the gate-oracle path)."""
    ast = parse_surround(query)
    spark = tables.dictionary.sparkSession
    score_type = "double" if precision == "double" else "float"
    empty = empty_scores(spark, precision)

    def _an(t: str) -> str | None:
        toks = analyzer(t) if analyzer else [t.lower()]
        return toks[0] if toks else None

    # --- lower truncations against the dictionary (bounded collect) ---
    def lower(node):
        if node["k"] == "term":
            node["t"] = _an(node["t"])
        elif node["k"] in ("pre", "wild"):
            pat = node.pop("t").lower()
            if node["k"] == "pre":
                cond = F.col("term").startswith(pat)
            else:
                cond = F.col("term").like(_like_pattern(pat))
            terms = [
                r["term"]
                for r in tables.dictionary.filter(cond)
                .select("term").limit(max_clause_count + 1).collect()
            ]
            if len(terms) > max_clause_count:
                raise ValueError(
                    f"truncation expands to > {max_clause_count} terms "
                    "(BooleanQuery.TooManyClauses analog)"
                )
            node["k"] = "or"
            node["cs"] = [
                {"k": "term", "t": t, "w": 1.0} for t in sorted(terms)
            ] or [{"k": "term", "t": None, "w": 1.0}]

    _walk(ast, lower)

    leaf_terms: list = []
    _walk(ast, lambda n: leaf_terms.append(n["t"])
          if n["k"] == "term" and n["t"] else None)

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

    def slot_of(node) -> tuple:
        """A distance operand → tuple of slot-alternative terms."""
        if node["k"] == "term":
            return (node["t"],) if node["t"] else ()
        if node["k"] == "or" and all(c["k"] == "term" for c in node["cs"]):
            return tuple(c["t"] for c in node["cs"] if c["t"])
        raise ValueError(
            "distance operands must be terms, truncations, or ORs of "
            "those (nested W/N/AND/NOT inside a distance operator is a "
            "declared divergence from DistanceQuery.java nesting)"
        )

    def ev(node) -> DataFrame:
        w = float(node["w"])
        if node["k"] == "term":
            if not node["t"]:
                return empty.select(
                    "doc_id", F.col("score").cast("double").alias("score")
                )
            out = scoring.filter(F.col("term") == node["t"]).select(
                "doc_id", (F.col("term_score") * F.lit(w)).alias("score")
            )
            return out
        if node["k"] == "or":
            parts = [ev(c) for c in node["cs"]]
            u = reduce(lambda a, b: a.unionByName(b), parts)
            return u.groupBy("doc_id").agg(
                (F.sum("score") * F.lit(w)).alias("score")
            )
        if node["k"] == "and":
            parts = [ev(c) for c in node["cs"]]
            out = parts[0]
            for i, p in enumerate(parts[1:]):
                out = out.join(
                    p.withColumnRenamed("score", f"_s{i}"), "doc_id"
                ).select(
                    "doc_id",
                    (F.col("score") + F.col(f"_s{i}")).alias("score"),
                )
            return out.select(
                "doc_id", (F.col("score") * F.lit(w)).alias("score")
            )
        if node["k"] == "not":
            out = ev(node["cs"][0])
            for c in node["cs"][1:]:
                out = out.join(
                    ev(c).select("doc_id"), "doc_id", "left_anti"
                )
            return out.select(
                "doc_id", (F.col("score") * F.lit(w)).alias("score")
            )
        # dist
        if pos_index is None:
            raise ValueError("query uses W/N but no pos_index was given")
        slots = [slot_of(c) for c in node["cs"]]
        if any(not s for s in slots):  # an always-empty operand
            return empty.select(
                "doc_id", F.col("score").cast("double").alias("score")
            )
        ph = search_phrase(
            pos_index, [list(s) for s in slots], slop=node["d"] - 1,
            ordered=node["ordered"], k=None, boost=w, precision=precision,
        )
        return ph.select(
            "doc_id", F.col("score").cast("double").alias("score")
        )

    out = ev(ast).select(
        "doc_id", F.col("score").cast(score_type).alias("score")
    ).orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(k) if k is not None else out
