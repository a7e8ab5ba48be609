"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, heuristic language ID, and rolling-hash fingerprints.

All hot-path logic is column expressions (split / filter / transform /
aggregate) inside whole-stage codegen — no Python UDFs. Ratios are exact
divisions of BIGINT counts, so differential oracles need no quantization.

These cover the training-pipeline text-analysis surface of the brief
(language-ID heuristic, quality scoring, token counting, document
fingerprinting); the reference app itself has no document corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from thisishappening_spark.operators.dedup import dictionary_ids

# Minimal English function-word list for the stopword-ratio heuristic.
# (A deliberately small, public list — the heuristic needs a stable set,
# not linguistic completeness.)
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "as", "at", "by", "be", "this", "that", "with", "from",
]

# Same idea for Spanish/French, for the language-ID argmax.
ES_STOPWORDS = [
    "el", "la", "los", "las", "de", "en", "que", "y", "un", "una",
    "es", "por", "con", "para", "del", "se", "no", "al", "lo", "como",
]
FR_STOPWORDS = [
    "le", "la", "les", "de", "des", "un", "une", "et", "en", "que",
    "est", "pour", "dans", "qui", "par", "sur", "au", "pas", "ce", "il",
]

FP_P = 2_147_483_647  # fingerprint modulus (2^31-1)


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def tokens(col: Column) -> Column:
    """Whitespace tokenization (the documents table is single-space
    separated; real corpora would regex-split first)."""
    return F.split(col, " ")


def word_token_count(col: Column) -> Column:
    """BPE-ish token proxy: count of maximal [a-z0-9]+ runs, lowercase.
    Uses regexp_count so the scan never materializes the match array."""
    return F.regexp_count(F.lower(col), F.lit("[a-z0-9]+"))


def stopword_ratio(tok_col: str, stopwords: list[str]) -> str:
    """Fraction of tokens that are function words — exact BIGINT/BIGINT
    division. SQL-string form over a token-array expression: the Column-
    operator form of this module cost ~1900 Py4J round trips per
    construction (profiled r21 — the bench times construction every run);
    the parsed strings build the identical expression trees."""
    hits = f"size(filter({tok_col}, t -> t IN ({_sql_list(stopwords)})))"
    return f"CAST({hits} AS DOUBLE) / size({tok_col})"


def doc_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document quality metrics + pass/fail decision.

    Metrics follow the usual corpus-filter recipe: token count bounds,
    mean token length bounds, stopword-ratio ceiling. One projection over
    the scan; no shuffle.
    """
    t = f"split({text_col}, ' ')"
    n_tok = f"size({t})"
    mean_len = (
        f"CAST(aggregate({t}, CAST(0 AS BIGINT), (acc, x) -> acc + length(x)) "
        f"AS DOUBLE) / {n_tok}"
    )
    sw = stopword_ratio(t, EN_STOPWORDS)
    passed = (
        f"{n_tok} >= 10 AND {n_tok} <= 400 AND ({mean_len}) >= 2.0D "
        f"AND ({mean_len}) <= 12.0D AND ({sw}) <= 0.5D"
    )
    return docs.selectExpr(
        f"{id_col} AS doc_id",
        *(keep_cols or []),
        f"{n_tok} AS n_tokens",
        f"{mean_len} AS mean_token_len",
        f"{sw} AS stopword_ratio",
        f"{passed} AS quality_pass",
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: stopword-hit ratio per language, argmax with
    an 'unknown' floor. Deterministic ties break by language code order
    (en < es < fr by construction below).

    Plan shape: explode the tokens once and count hits per language with
    conditional sums (``isin`` against a literal set compiles to an InSet
    inside whole-stage codegen), then a single shuffle of four BIGINTs per
    document. The earlier formulation — three higher-order ``filter``
    lambdas per row — fell out of codegen and re-tokenized each row ~7×.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    hits = toks.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN tok IN ({_sql_list(words)}) THEN 1 ELSE 0 END)"
                f" AS h_{code}"
            )
            for code, words in (
                ("en", EN_STOPWORDS),
                ("es", ES_STOPWORDS),
                ("fr", FR_STOPWORDS),
            )
        ],
        F.expr("count(1) AS n_tok"),
    )
    scored = hits.selectExpr(
        "doc_id",
        "CAST(h_en AS DOUBLE) / n_tok AS score_en",
        "CAST(h_es AS DOUBLE) / n_tok AS score_es",
        "CAST(h_fr AS DOUBLE) / n_tok AS score_fr",
    )
    best = "greatest(score_en, score_es, score_fr)"
    pred = f"CASE WHEN {best} < 0.05D THEN 'unknown' " + " ".join(
        # first max wins → ties break en<es<fr
        f"WHEN score_{code} = {best} THEN '{code}'"
        for code in ("en", "es", "fr")
    ) + " END"
    return scored.selectExpr("doc_id", f"{pred} AS pred_lang", "score_en")


def doc_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
) -> DataFrame:
    """Rolling-hash document fingerprint: min over token-trigram window
    hashes h = (tid1·31² + tid2·31 + tid3) mod p.

    tid is the token's ``dedup.ranked_dictionary`` id (rank in the sorted
    distinct-token dictionary), the same token-id path MinHash and SimHash
    use: engine-portable integer arithmetic the DuckDB oracle reproduces
    bit-for-bit. A document with fewer tokens than ``window`` gets a NULL
    fingerprint.

    The min-of-window-hashes is the 1-fingerprint special case of
    winnowing.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    ids = dictionary_ids(toks, "tok", "tid", "doc_id", "pos")
    seq = ids.groupBy("doc_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, tid))), s -> s.tid)"
            " AS tids"
        )
    )
    w = (
        f"CASE WHEN size(tids) < {window} THEN CAST(array() AS ARRAY<BIGINT>) "
        f"ELSE transform(sequence(1, size(tids) - {window - 1}), "
        f"i -> (CAST(element_at(tids, i) AS BIGINT) * 961 "
        f"+ element_at(tids, i + 1) * 31 + element_at(tids, i + 2)) % {FP_P}) END"
    )
    return seq.select(
        "doc_id", F.expr(f"CAST(array_min({w}) AS BIGINT) AS fingerprint")
    )
