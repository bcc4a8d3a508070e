"""SimilarityBase family — the reference's pluggable statistical
ranking models, re-expressed as pure Column arithmetic over the
standard index tables (postings ⋈ broadcast term-stats ⋈ broadcast
norm-decode), no UDFs.

Reference semantics (lucene/core/src/java/org/apache/lucene/search/
similarities/):

- ``SimilarityBase.java``: every model scores per (term, doc) from
  BasicStats {N=docCount, T=sumTotalTermFreq, avgFl=T/(double)N,
  n=docFreq, F=totalTermFreq} plus (freq, docLen) where docLen is the
  DECODED one-byte SmallFloat norm (LENGTH_TABLE, SimilarityBase.java
  computeNorm/getLengthValue) — identical to the BM25 norm byte, so
  every model here drops onto the unchanged index tables.
- ``LMDirichletSimilarity.java``: boost*(ln(1+freq/(mu*p)) +
  ln(mu/(dl+mu))), clamped >= 0, p=(F+1)/(T+1)
  (LMSimilarity.DefaultCollectionModel).
- ``LMJelinekMercerSimilarity.java``: boost*ln(1+((1-l)*freq/dl)/(l*p)).
- ``DFISimilarity.java`` + Independence{Standardized,Saturated,
  ChiSquared}.java: expected=(F+1)*dl/(T+1); 0 if freq<=expected else
  boost*log2(measure+1).
- ``DFRSimilarity.java`` = BasicModel{G,In,Ine,IF} x AfterEffect{L,B}
  x Normalization{H1,H2,H3,Z,none}; score=boost*bm(tfn, ae) with
  AfterEffectB.scoreTimes1pTfn=(F+2)/(n+1) (AfterEffectB.java: F=ttf+1,
  n=df+1, returns (F+1.0)/n).
- ``IBSimilarity.java`` = Distribution{LL,SPL} x Lambda{DF,TTF} x
  Normalization; LambdaDF.java=(float)((n+1)/(N+1)),
  LambdaTTF.java=(float)((F+1)/(N+1)); DistributionLL.java
  -ln(l/(tfn+l)); DistributionSPL.java -ln((l^q - l)/(1-l)),
  q=1-1/(tfn+1).
- ``Axiomatic{F1EXP,F1LOG,F2EXP,F2LOG,F3EXP,F3LOG}.java``:
  max(0, boost*(tf*ln*tfln*idf - gamma)) with s=0.25, k=0.35f,
  queryLen=1 defaults (Axiomatic.java:score).

Cross-engine determinism: each model is ONE SQL expression template
(`MODELS[name](**params)`) instantiated verbatim for both Spark
(`F.expr`) and the DuckDB oracle — same text, same IEEE-double
arithmetic, so the driver hash compares identical computations. Java
float32 intermediates (LambdaDF/TTF, NormalizationH3's
(F+1F)/(T+1F) ratio, float constants k=0.35f / z=0.30f) are
replicated with explicit CAST(.. AS FLOAT) round-trips — float32 ops
evaluated through a float64 intermediate round identically to single
float32 rounding for +,-,*,/ (the 2p+2 double-rounding safety
property), and float constants are embedded as the repr of their
float32 value.

Declared divergences (unreachable for non-stopword query terms, pinned
by tests/test_simbase.py): the LambdaDF/LambdaTTF nextDown(1f) guard
and the DistributionSPL pow==lambda nextUp/nextDown guard are not
replicated — both require a term present in (nearly) every document.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import smallfloat

__all__ = ["MODELS", "sim_expr", "search_similarity", "sim_oracle_sql"]

# Math.log(2) — SimilarityBase.LOG_2, embedded as a literal so both
# engines use the identical double.
_LOG2 = "0.6931471805599453"


def _f32(x: float) -> str:
    """repr of the float32 value of x — the double a Java float
    constant promotes to."""
    return repr(float(np.float32(x)))


# Collection probability p = (F+1)/(T+1) — LMSimilarity
# DefaultCollectionModel.computeProbability.
_P = "(({cf} + 1.0) / ({T} + 1.0))"

# avgFieldLength = T/(double)N — SimilarityBase.fillBasicStats.
_AVG = "({T} / {N})"


def _log2(x: str) -> str:
    return f"(ln({x}) / {_LOG2})"


def lm_dirichlet(mu: float = 2000.0) -> str:
    m = repr(float(mu))
    return (
        "greatest(0.0, {boost} * ("
        f"ln(1.0 + {{freq}} / ({m} * {_P})) + ln({m} / ({{dl}} + {m}))))"
    )


def lm_jelinek_mercer(lam: float = 0.5) -> str:
    # lam and (1-lam) are float32 in the reference; callers must pass
    # exactly-representable lambdas (0.5, 0.25) or accept f32 rounding.
    l32 = _f32(lam)
    one_minus = _f32(np.float32(1.0) - np.float32(lam))
    return (
        "({boost} * ln(1.0 + "
        f"(({one_minus} * {{freq}} / {{dl}}) / ({l32} * {_P}))))"
    )


_DFI_MEASURES = {
    "standardized": "(({freq} - __E__) / sqrt(__E__))",
    "saturated": "(({freq} - __E__) / __E__)",
    "chisquared": "(({freq} - __E__) * ({freq} - __E__) / __E__)",
}


def dfi(measure: str = "chisquared") -> str:
    e = "(({cf} + 1.0) * {dl} / ({T} + 1.0))"
    m = _DFI_MEASURES[measure].replace("__E__", e)
    return (
        f"(CASE WHEN {{freq}} <= {e} THEN 0.0 "
        f"ELSE {{boost}} * {_log2(f'({m} + 1.0)')} END)"
    )


# --- DFR components ---------------------------------------------------

def _tfn(normalization: str, c: float, mu: float, z: float) -> str:
    if normalization == "h1":
        return f"({{freq}} * {_f32(c)} * ({_AVG} / {{dl}}))"
    if normalization == "h2":
        return (
            f"({{freq}} * {_log2(f'(1.0 + {_f32(c)} * {_AVG} / {{dl}})')})"
        )
    if normalization == "h3":
        # (tf + mu*((F+1F)/(T+1F))) / (len+mu) * mu — the ratio and the
        # mu*ratio product are float32 in the reference.
        ratio = (
            "CAST(CAST(CAST(({cf} + 1.0) AS FLOAT) AS DOUBLE)"
            " / CAST(CAST(({T} + 1.0) AS FLOAT) AS DOUBLE) AS FLOAT)"
        )
        m = _f32(mu)
        return (
            f"(({{freq}} + CAST({m} * {ratio} AS FLOAT))"
            f" / ({{dl}} + {m}) * {m})"
        )
    if normalization == "z":
        return f"({{freq}} * power({_AVG} / {{dl}}, {_f32(z)}))"
    if normalization == "none":
        return "{freq}"
    raise ValueError(f"unknown normalization {normalization!r}")


_AE = {
    # AfterEffectL.scoreTimes1pTfn = 1.0
    "l": "1.0",
    # AfterEffectB: F=ttf+1, n=df+1 → (F+1.0)/n
    "b": "(({cf} + 2.0) / ({df} + 1.0))",
}


def dfr(
    basic_model: str = "ine",
    after_effect: str = "b",
    normalization: str = "h2",
    c: float = 1.0,
    mu: float = 800.0,
    z: float = 0.30,
) -> str:
    tfn = _tfn(normalization, c, mu, z)
    ae = _AE[after_effect]
    if basic_model == "g":
        lam = "(({cf} + 1.0) / ({N} + ({cf} + 1.0)))"
        a = _log2(f"({lam} + 1.0)")
        b = _log2(f"((1.0 + {lam}) / {lam})")
        bm = f"(({b} - ({b} - {a}) / (1.0 + {tfn})) * {ae})"
    else:
        if basic_model == "in":
            a = _log2("(({N} + 1.0) / ({df} + 0.5))")
        elif basic_model == "if":
            a = _log2("(1.0 + ({N} + 1.0) / ({cf} + 0.5))")
        elif basic_model == "ine":
            ne = "({N} * (1.0 - power(({N} - 1.0) / {N}, {cf})))"
            a = _log2(f"(({{N}} + 1.0) / ({ne} + 0.5))")
        else:
            raise ValueError(f"unknown basic model {basic_model!r}")
        bm = f"({a} * {ae} * (1.0 - 1.0 / (1.0 + {tfn})))"
    return f"({{boost}} * {bm})"


# --- IB ---------------------------------------------------------------

_LAMBDA = {
    "df": "CAST((({df} + 1.0) / ({N} + 1.0)) AS FLOAT)",
    "ttf": "CAST((({cf} + 1.0) / ({N} + 1.0)) AS FLOAT)",
}


def ib(
    distribution: str = "ll",
    lam: str = "df",
    normalization: str = "h2",
    c: float = 1.0,
    mu: float = 800.0,
    z: float = 0.30,
) -> str:
    tfn = _tfn(normalization, c, mu, z)
    lm = _LAMBDA[lam]
    if distribution == "ll":
        d = f"(-ln({lm} / ({tfn} + {lm})))"
    elif distribution == "spl":
        q = f"(1.0 - 1.0 / ({tfn} + 1.0))"
        d = f"(-ln((power({lm}, {q}) - {lm}) / (1.0 - {lm})))"
    else:
        raise ValueError(f"unknown distribution {distribution!r}")
    return f"({{boost}} * {d})"


# --- Axiomatic --------------------------------------------------------

def axiomatic(
    variant: str = "f2exp",
    s: float = 0.25,
    k: float = 0.35,
    query_len: int = 1,
) -> str:
    s32, k32, ql = _f32(s), _f32(k), repr(float(query_len))
    tf_log = "(1.0 + ln(1.0 + ln({freq} + 1.0)))"
    ln_n = f"(({_AVG} + {s32}) / ({_AVG} + {{dl}} * {s32}))"
    tfln = f"({{freq}} / ({{freq}} + {s32} + {s32} * {{dl}} / {_AVG}))"
    idf_exp = f"power((({{N}} + 1.0) / {{df}}), {k32})"
    idf_log = "ln(({N} + 1.0) / {df})"
    gamma3 = f"(({{dl}} - {ql}) * {s32} * {ql} / {_AVG})"
    parts = {
        "f1exp": (tf_log, ln_n, "1.0", idf_exp, "0.0"),
        "f1log": (tf_log, ln_n, "1.0", idf_log, "0.0"),
        "f2exp": ("1.0", "1.0", tfln, idf_exp, "0.0"),
        "f2log": ("1.0", "1.0", tfln, idf_log, "0.0"),
        "f3exp": (tf_log, "1.0", "1.0", idf_exp, gamma3),
        "f3log": (tf_log, "1.0", "1.0", idf_log, gamma3),
    }
    tf_, ln_, tfln_, idf_, gamma_ = parts[variant]
    return (
        "greatest(0.0, {boost} * "
        f"(({tf_} * {ln_} * {tfln_} * {idf_}) - {gamma_}))"
    )


def sweetspot(
    variant: str = "baseline",
    ln_min: int = 3,
    ln_max: int = 20,
    steep: float = 0.5,
    tf_base: float = 1.5,
    tf_min: float = 5.0,
    hyper_min: float = 0.0,
    hyper_max: float = 2.0,
    hyper_base: float = 1.3,
    hyper_xoffset: float = 10.0,
) -> str:
    """SweetSpotSimilarity (lucene/misc/.../SweetSpotSimilarity.java) —
    ClassicSimilarity with a plateau length norm
    (1/sqrt(steep*(|dl-min|+|dl-max|-(max-min))+1), float32 result) and
    either the baseline tf (flat tf_base up to tf_min, then
    sqrt(freq+base^2-min)) or the hyperbolic tf
    (min+(max-min)/2*(tanh-shape+1)). idf is ClassicSimilarity's
    (1+ln((N+1)/(df+1)))^2, double-path as in search/classic.py."""
    s32 = _f32(steep)
    lnorm = (
        f"CAST(1.0 / sqrt(CAST({s32} * (abs({{dl}} - {float(ln_min)!r})"
        f" + abs({{dl}} - {float(ln_max)!r})"
        f" - {float(ln_max - ln_min)!r}) AS FLOAT) + 1.0) AS FLOAT)"
    )
    if variant == "baseline":
        b32, m32 = _f32(tf_base), _f32(tf_min)
        bb = _f32(np.float32(tf_base) * np.float32(tf_base))
        tf_ = (
            f"(CASE WHEN {{freq}} <= {m32} THEN {b32} "
            f"ELSE CAST(sqrt({{freq}} + {bb} - {m32}) AS FLOAT) END)"
        )
    elif variant == "hyperbolic":
        mn, mx = _f32(hyper_min), _f32(hyper_max)
        half = _f32((np.float32(hyper_max) - np.float32(hyper_min))
                    / np.float32(2.0))
        base = repr(float(hyper_base))
        x = f"({{freq}} - {_f32(hyper_xoffset)})"
        tanh = (
            f"((power({base}, {x}) - power({base}, -{x}))"
            f" / (power({base}, {x}) + power({base}, -{x})))"
        )
        tf_ = f"CAST(({mn} + {half} * ({tanh} + 1.0)) AS FLOAT)"
    else:
        raise ValueError(f"unknown sweetspot variant {variant!r}")
    idf2 = "power(1.0 + ln(({N} + 1.0) / ({df} + 1.0)), 2)"
    return f"({{boost}} * {idf2} * {tf_} * {lnorm})"


def multi(models=()) -> str:
    """MultiSimilarity (similarities/MultiSimilarity.java): the SUM of
    the sub-similarities' per-term scores (MultiSimScorer.score)."""
    subs = [MODELS[m](**p) for m, p in models]
    return "(" + " + ".join(subs) + ")"


def legacy_bm25(k1: float = 1.2, b: float = 0.75) -> str:
    """LegacyBM25Similarity (lucene/misc/.../search/similarity/
    LegacyBM25Similarity.java:65-67): delegates to BM25Similarity with
    the boost scaled by (1 + k1) — the pre-Lucene-8 formula whose
    numerator carried the (k1+1) factor. The (1 + k1) product is Java
    float32 arithmetic, embedded as the f32 constant; the rest is the
    standard Lucene-9 BM25 expression (same text as the fts_bm25_*
    gates), double-path per the simbase family contract."""
    kb = repr(float(np.float32(1.0) + np.float32(k1)))
    k1r, br = repr(float(k1)), repr(float(b))
    return (
        f"({{boost}} * {kb}"
        f" * ln(1 + (({{N}} - {{df}} + 0.5) / ({{df}} + 0.5)))"
        f" * ({{freq}} / ({{freq}} + {k1r} * (1 - {br} + {br} * {{dl}}"
        f" / {_AVG}))))"
    )


MODELS = {
    "dirichlet": lm_dirichlet,
    "jelinek_mercer": lm_jelinek_mercer,
    "dfi": dfi,
    "dfr": dfr,
    "ib": ib,
    "axiomatic": axiomatic,
    "sweetspot": sweetspot,
    "multi": multi,
    "legacy_bm25": legacy_bm25,
}


def sim_expr(model: str, boost: float = 1.0, **params) -> str:
    """Instantiate a model template with neutral placeholder names
    still unresolved: {freq} {dl} {df} {cf} {N} {T}."""
    tpl = MODELS[model](**params)
    return tpl.replace("{boost}", repr(float(boost)))


def _fill(tpl: str, **cols) -> str:
    for key, val in cols.items():
        tpl = tpl.replace("{" + key + "}", val)
    return tpl


def search_similarity(
    tables,
    terms,
    model: str,
    k: int | None = 10,
    boost: float = 1.0,
    **params,
) -> DataFrame:
    """Top-k disjunction over the standard index tables under any
    SimilarityBase model. Per-term stats (df, cf) broadcast-joined from
    the dictionary; collection stats (N, T) are two scalars from the
    index manifest; the norm byte decodes through a broadcast 256-row
    table. The model arithmetic is a single whole-stage-codegen
    expression — no UDF, one hash aggregation, scale-safe.

    → DataFrame(doc_id long, score double) ordered
    (score desc, doc_id asc)."""
    spark = tables.postings.sparkSession
    uniq = list(dict.fromkeys(terms))
    n_docs = float(max(tables.doc_count, 1))
    sum_ttf = float(tables.sum_total_term_freq)
    expr = _fill(
        sim_expr(model, boost=boost, **params),
        freq="CAST(freq AS DOUBLE)",
        dl="qdl",
        df="CAST(df AS DOUBLE)",
        cf="CAST(cf AS DOUBLE)",
        N=repr(n_docs),
        T=repr(sum_ttf),
    )
    qdl = smallfloat.byte4_to_int(np.arange(256)).astype(np.float64)
    decode = spark.createDataFrame(
        [(i, float(qdl[i])) for i in range(256)],
        "norm_byte int, qdl double",
    )
    scored = tables.postings.filter(F.col("term").isin(uniq)).join(
        F.broadcast(tables.dictionary.select("term", "df", "cf")), "term"
    )
    out = (
        scored.join(F.broadcast(decode), "norm_byte")
        .withColumn("term_score", F.expr(expr))
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return out.limit(k) if k is not None else out


def sim_oracle_sql(
    model: str,
    terms,
    toks_sql: str,
    norm_values: str,
    k: int = 20,
    boost: float = 1.0,
    round_to: int = 4,
    **params,
) -> str:
    """The DuckDB mirror: identical expression text over CTE-derived
    stats columns. Ordering is by the ROUNDED score (then doc_id) on
    both engines so the top-k cut is ulp-insensitive."""
    expr = _fill(
        sim_expr(model, boost=boost, **params),
        freq="CAST(tf.freq AS DOUBLE)",
        dl="CAST(qd.qdl AS DOUBLE)",
        df="CAST(d.df AS DOUBLE)",
        cf="CAST(d.cf AS DOUBLE)",
        N="CAST(s.doc_count AS DOUBLE)",
        T="CAST(s.sum_ttf AS DOUBLE)",
    )
    tl = ",".join(f"'{t}'" for t in dict.fromkeys(terms))
    return f"""
WITH toks AS ({toks_sql}),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nt(lo, hi, qdl) AS (VALUES {norm_values}),
qd AS (SELECT dl.doc_id, nt.qdl FROM dl JOIN nt
       ON dl.dl BETWEEN nt.lo AND nt.hi),
stats AS (SELECT count(*) AS doc_count, sum(dl) AS sum_ttf FROM dl),
tf AS (SELECT doc_id, term, count(*) AS freq FROM toks
       WHERE term IN ({tl}) GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df, sum(freq) AS cf FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, {expr} AS ts
  FROM tf JOIN dfs d USING (term)
  JOIN qd ON qd.doc_id = tf.doc_id CROSS JOIN stats s)
SELECT doc_id, round(sum(ts), {round_to}) AS score FROM scored
GROUP BY doc_id
ORDER BY round(sum(ts), {round_to}) DESC, doc_id ASC LIMIT {k}"""
