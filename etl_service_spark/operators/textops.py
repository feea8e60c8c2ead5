"""Text-analysis operators for a training-data pipeline.

Beyond the reference's own surface (it has no text analytics), these
are the document-corpus operators a 100 TB data pipeline needs:
language-ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting (polynomial
rolling hash + min-shingle-hash).

All of it is pure JVM expression work (``F.expr`` over the portable
fragment library — no Python UDFs): a single map-side projection per
document, embarrassingly parallel, no shuffle at any scale. Every
function has a byte-identical DuckDB oracle builder next to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import portable as P

# BPE-ish token pattern: letter runs, digit runs, single punctuation
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"
PUNCT_RE = "[^a-z0-9 ]"

STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "a"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "les", "et", "un", "une", "est", "pour", "dans", "que"),
    "es": ("el", "los", "las", "y", "que", "en", "un", "por", "con", "del"),
}


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _stop_hits_spark(lang: str) -> str:
    return f"size(filter({P.spark_tokens('text')}, t -> t IN ({_sql_list(STOPWORDS[lang])})))"


def _stop_hits_duck(lang: str) -> str:
    return f"len(list_filter({P.duck_tokens('text')}, t -> t IN ({_sql_list(STOPWORDS[lang])})))"


# ------------------------------------------------------------ token stats
def token_stats(docs: DataFrame) -> DataFrame:
    """doc_id, n_chars, n_ws_tokens, n_bpe_tokens, approx_llm_tokens."""
    tok = P.spark_tokens("text")
    return docs.selectExpr(
        "doc_id",
        "length(text) AS n_chars",
        f"size({tok}) AS n_ws_tokens",
        f"size(regexp_extract_all(lower(text), '{BPE_RE}', 0)) AS n_bpe_tokens",
        "CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens",
    )


def oracle_token_stats(view: str = "documents") -> str:
    tok = P.duck_tokens("text")
    return f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len({tok}) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{BPE_RE}')) AS n_bpe_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
    FROM {view}
    """


# ---------------------------------------------------------- quality score
def quality_score(docs: DataFrame) -> DataFrame:
    """Deterministic quality heuristics: stopword ratio, alpha ratio,
    length factor → weighted score. Ratios are int/int divisions of
    identical operands in both engines → bit-identical doubles."""
    tok = P.spark_tokens("text")
    ntok = f"size({tok})"
    stop = _stop_hits_spark("en")
    alpha = f"length(regexp_replace(lower(text), '{PUNCT_RE}', ''))"
    return docs.selectExpr(
        "doc_id",
        f"{ntok} AS n_tokens",
        f"{P.ratio(stop, f'greatest({ntok}, 1)')} AS stop_ratio",
        f"{P.ratio(alpha, 'greatest(length(text), 1)')} AS alpha_ratio",
        "FLOOR((0.4 * CAST(" + stop + " AS DOUBLE) / greatest(" + ntok + ", 1)"
        " + 0.3 * least(CAST(" + ntok + " AS DOUBLE) / 100.0, 1.0)"
        " + 0.3 * CAST(" + alpha + " AS DOUBLE) / greatest(length(text), 1)) * 1e6)"
        " / 1e6 AS quality",
    )


def oracle_quality_score(view: str = "documents") -> str:
    tok = P.duck_tokens("text")
    ntok = f"len({tok})"
    stop = _stop_hits_duck("en")
    alpha = f"length(regexp_replace(lower(text), '{PUNCT_RE}', '', 'g'))"
    return f"""
    SELECT doc_id,
           {ntok} AS n_tokens,
           {P.ratio(stop, f'greatest({ntok}, 1)')} AS stop_ratio,
           {P.ratio(alpha, 'greatest(length(text), 1)')} AS alpha_ratio,
           FLOOR((0.4 * CAST({stop} AS DOUBLE) / greatest({ntok}, 1)
             + 0.3 * least(CAST({ntok} AS DOUBLE) / 100.0, 1.0)
             + 0.3 * CAST({alpha} AS DOUBLE) / greatest(length(text), 1)) * 1e6)
             / 1e6 AS quality
    FROM {view}
    """


# ----------------------------------------------------------- language ID
def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit argmax with fixed tie order en>de>fr>es; no hits → 'und'."""
    hits = {lg: _stop_hits_spark(lg) for lg in STOPWORDS}
    pred = _lang_case(hits)
    return docs.selectExpr(
        "doc_id",
        "lang AS lang_true",
        *[f"{h} AS hits_{lg}" for lg, h in hits.items()],
        f"{pred} AS lang_pred",
    )


def _lang_case(hits: dict[str, str]) -> str:
    e, d, f_, s = hits["en"], hits["de"], hits["fr"], hits["es"]
    return (
        f"CASE WHEN {e} + {d} + {f_} + {s} = 0 THEN 'und' "
        f"WHEN {e} >= {d} AND {e} >= {f_} AND {e} >= {s} THEN 'en' "
        f"WHEN {d} >= {f_} AND {d} >= {s} THEN 'de' "
        f"WHEN {f_} >= {s} THEN 'fr' ELSE 'es' END"
    )


def oracle_lang_id(view: str = "documents") -> str:
    hits = {lg: _stop_hits_duck(lg) for lg in STOPWORDS}
    pred = _lang_case(hits)
    cols = ",\n           ".join(f"{h} AS hits_{lg}" for lg, h in hits.items())
    return f"""
    SELECT doc_id,
           lang AS lang_true,
           {cols},
           {pred} AS lang_pred
    FROM {view}
    """


# ---------------------------------------------------------- fingerprints
def fingerprint(docs: DataFrame) -> DataFrame:
    """Full-text polynomial hash + min-shingle-hash (a 1-perm minhash):
    the rolling-hash document fingerprint for incremental dedup.

    Both hashes run in ONE Arrow kernel (exact integer replay of the
    SQL fold — portable.pd_poly_hash_series / pd_shingle_hash_sets; the
    SQL formulation is interpreted per-character lambda evaluation).
    Map-side only, no shuffle."""
    from pyspark.sql import functions as F

    return P.fan_out(docs).select(
        "doc_id",
        P.pd_poly_hash_udf()(F.lower(F.col("text"))).alias("text_hash"),
        P.pd_shingle_hash_sets_udf()("text").alias("hs"),
    ).select(
        "doc_id",
        "text_hash",
        # sets are sorted ascending -> min is element 0 (F.get is
        # NULL-safe out of bounds, unlike ANSI element_at)
        F.coalesce(F.get("hs", 0), F.lit(-1)).alias("min_shingle_hash"),
    )


def oracle_fingerprint(view: str = "documents") -> str:
    full = P.duck_poly_hash("lower(text)")
    shingles = P.duck_shingles(P.duck_tokens("text"))
    minsh = f"list_min(list_transform({shingles}, s -> {P.duck_poly_hash('s')}))"
    return f"""
    SELECT doc_id,
           {full} AS text_hash,
           coalesce({minsh}, -1) AS min_shingle_hash
    FROM {view}
    """


# ------------------------------------------------------- normalization
def normalize(docs: DataFrame) -> DataFrame:
    """Canonical text form for hashing/dedup: lowercase, whitespace
    runs collapsed to one space, trimmed. Pure map-side projection.
    Spark's regexp_replace is replace-all by default; DuckDB needs the
    'g' flag — the one dialect split (see oracle_normalize)."""
    return docs.selectExpr(
        "doc_id",
        r"trim(regexp_replace(lower(text), '\\s+', ' ')) AS norm_text",
        r"length(trim(regexp_replace(lower(text), '\\s+', ' '))) AS norm_len",
    )


def oracle_normalize(view: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_text,
           length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_len
    FROM {view}
    """


def tfidf_top_terms_sql(k: int = 3, view: str = "documents") -> str:
    """Top-k most-distinctive terms per document by a log-free tf-idf
    weighting, fully in integer arithmetic.

    score_ppm = (tf * 1e6 // doclen) * N // df — normalized term
    frequency scaled by inverse document frequency. The classic
    LN(N/df) idf is deliberately NOT used: natural log is not a
    correctly-rounded operation, so Spark's libm and DuckDB's can
    disagree in the last ulp and break the value-hash oracle; the
    rational idf preserves the same per-document ranking for the
    top-k cut. (DETERMINISM.md rule: only +,-,*,integer-div,sqrt are
    safe cross-engine.)

    Scale shape: explode -> (doc, token) hash agg (map-side combined),
    doc-length and document-frequency reductions over that already-
    aggregated relation, one broadcastable scalar N, and a top-k
    window partitioned by doc_id. The df relation is vocabulary-sized
    (bounded), so its join broadcasts at any corpus size; the only
    data-sized shuffles are the explode agg and the per-doc window."""
    return f"""
WITH tok AS (SELECT doc_id, unnest({P.duck_tokens('text')}) AS token FROM {view}),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, SUM(tf) AS doclen FROM tf GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
nn AS (SELECT COUNT(*) AS n FROM {view}),
scored AS (
  SELECT t.doc_id, t.token, t.tf, f.df,
         CAST(((t.tf * 1000000 // l.doclen) * (SELECT n FROM nn)) // f.df
              AS BIGINT) AS score_ppm
  FROM tf t
  JOIN dl l ON t.doc_id = l.doc_id
  JOIN df f ON t.token = f.token
)
SELECT doc_id, token, tf, df, score_ppm
FROM (
  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score_ppm DESC, token) AS rk
  FROM scored s
) ranked
WHERE rk <= {k}
"""


def top_terms_per_language_sql(k: int = 5, view: str = "documents") -> tuple[str, str]:
    """Top-k most-distinctive terms per LANGUAGE — the corpus-curation
    twin of tfidf_top_terms_sql (reference analytics surface: the
    per-group drill-down reports, Helper.cs:808-905, applied to the
    training-corpus plane).

    Distinctiveness is the same log-free integer weighting: the term's
    in-language frequency (ppm of the language's token mass) scaled by
    the inverse of its corpus-wide mass. All integer arithmetic →
    bit-identical ranks across engines; ROW_NUMBER tie-broken on the
    token string.

    Scale shape: one explode -> (lang, token) hash agg (map-side
    combined; vocabulary × languages rows out — bounded, far smaller
    than the corpus), then every later relation is vocabulary-sized:
    the language-mass and corpus-mass reductions, the join back, and a
    top-k window PARTITIONED BY lang over ~|V|·|langs| rows. Nothing
    after the first agg scales with document count."""
    spark_tok = (
        f"SELECT lang, token FROM {view} "
        f"LATERAL VIEW explode({P.spark_tokens('text')}) x AS token"
    )
    duck_tok = f"SELECT lang, unnest({P.duck_tokens('text')}) AS token FROM {view}"

    def body(tok_sql: str, idiv: str) -> str:
        return f"""
WITH tok AS ({tok_sql}),
tf AS (SELECT lang, token, COUNT(*) AS tf FROM tok GROUP BY lang, token),
lm AS (SELECT lang, SUM(tf) AS langmass FROM tf GROUP BY lang),
gm AS (SELECT token, SUM(tf) AS gmass FROM tf GROUP BY token),
tot AS (SELECT SUM(tf) AS total FROM tf),
scored AS (
  SELECT t.lang, t.token, t.tf,
         CAST(((t.tf * 1000000 {idiv} l.langmass) * (SELECT total FROM tot))
              {idiv} g.gmass AS BIGINT) AS score_ppm
  FROM tf t
  JOIN lm l ON t.lang = l.lang
  JOIN gm g ON t.token = g.token
)
SELECT lang, token, CAST(tf AS BIGINT) AS tf, score_ppm
FROM (
  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY score_ppm DESC, token) AS rk
  FROM scored s
) ranked
WHERE rk <= {k}
"""

    return body(spark_tok, "DIV"), body(duck_tok, "//")


# ------------------------------------------- repetition quality (Gopher-style)
def oracle_repetition_quality(view: str = "documents") -> str:
    dt = P.duck_tokens("text")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({dt}) AS tok FROM {view}
    ), uni AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ), uagg AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             max(c) AS max_unigram_cnt,
             CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup_token_cnt
      FROM uni GROUP BY doc_id
    ), bgrams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 1),
                                   i -> l[i] || ' ' || l[i + 1])) AS bg
      FROM (SELECT doc_id, {dt} AS l FROM {view})
    ), bagg AS (
      SELECT doc_id, max(c) AS max_bigram_cnt
      FROM (SELECT doc_id, bg, count(*) AS c FROM bgrams GROUP BY doc_id, bg)
      GROUP BY doc_id
    )
    SELECT u.doc_id, u.n_tokens, u.n_distinct, u.max_unigram_cnt, u.dup_token_cnt,
           coalesce(b.max_bigram_cnt, 0) AS max_bigram_cnt,
           u.dup_token_cnt * 1000000 // u.n_tokens AS dup_ppm
    FROM uagg u LEFT JOIN bagg b USING (doc_id)
    """


def repetition_quality_staged(spark, view: str = "documents") -> DataFrame:
    """Spark execution path for the Gopher-style repetition metrics
    (oracle: :func:`oracle_repetition_quality`): every metric is a
    pure function of ONE document, so the whole operator is a single
    Arrow ``mapInPandas`` pass — ZERO shuffles, against a declarative
    form's two explode→(doc,token)-aggregate→doc-aggregate pipelines
    plus a join (whose shuffles are bounded by vocabulary mass but are
    still three exchanges of every document's vocabulary). Same
    tokenizer regex as the SQL/oracle side (portable.TOKEN_SPLIT_RE),
    pure integer counts — values identical by construction; docs that
    tokenize to nothing are absent from the output exactly like the
    oracle's explode-based form. At 100 TB this is embarrassingly
    parallel over document partitions."""
    import pandas as pd

    def kernel(batches):
        from collections import Counter

        cols = [
            "doc_id", "n_tokens", "n_distinct", "max_unigram_cnt",
            "dup_token_cnt", "max_bigram_cnt", "dup_ppm",
        ]
        for pdf in batches:
            rows = []
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                toks = P.py_tokens(txt)
                if not toks:
                    continue  # explode([]) emits nothing in both engines
                uc = Counter(toks)
                n_tokens = len(toks)
                dup = sum(c for c in uc.values() if c > 1)
                max_big = (
                    max(Counter(zip(toks, toks[1:])).values()) if len(toks) >= 2 else 0
                )
                rows.append(
                    (
                        int(doc_id), n_tokens, len(uc), max(uc.values()),
                        dup, max_big, dup * 1_000_000 // n_tokens,
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return P.fan_out(spark.table(view).select("doc_id", "text")).mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, n_tokens bigint, n_distinct bigint,"
            " max_unigram_cnt bigint, dup_token_cnt bigint,"
            " max_bigram_cnt bigint, dup_ppm bigint"
        ),
    )


def quality_scores_df(docs: DataFrame) -> DataFrame:
    """Per-doc quality heuristics over any (doc_id, text) DataFrame in
    one Arrow pass (same tokenizer regex / stopword list / punctuation
    regex as the SQL form, and the identical left-associated IEEE-754
    chain: (0.4·stop/g + 0.3·min(ntok/100,1)) + 0.3·alpha/len,
    floor·1e6/1e6 — every operand is an exact integer widened to
    double, every op correctly rounded, so values are bit-identical to
    the oracle; sole caveat: characters whose lowercase EXPANDS, e.g.
    'İ', count differently in Python str.lower vs SQL lower in the
    alpha numerator — see the kernel comment). The declarative form evaluates the tokenizer +
    stopword filter as interpreted higher-order functions per row; this
    is a zero-shuffle map-side projection like
    repetition_quality_staged. Composable from batch and streaming
    pipelines alike (see streaming/corpus_stream)."""
    import math
    import re

    import pandas as pd

    punct = re.compile(PUNCT_RE)
    stops = frozenset(STOPWORDS["en"])

    def kernel(batches):
        cols = ["doc_id", "n_tokens", "stop_ratio", "alpha_ratio", "quality"]
        for pdf in batches:
            rows = []
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                raw = "" if txt is None else txt
                low = raw.lower()
                toks = P.py_tokens(raw)
                ntok = len(toks)
                stop = sum(1 for t in toks if t in stops)
                alpha = len(punct.sub("", low))
                g_tok = max(ntok, 1)
                # denominator is the ORIGINAL text length, matching the
                # SQL form's length(text) — len(low) diverges whenever
                # lowercasing changes the code-point count (e.g. 'İ' →
                # 'i̇'). The alpha NUMERATOR is over lower(text) in both
                # forms, where Python str.lower and SQL lower still
                # disagree on such expanding characters — a documented
                # residual caveat, not hit by ASCII corpora.
                g_len = max(len(raw), 1)
                quality = (
                    math.floor(
                        (0.4 * stop / g_tok + 0.3 * min(ntok / 100.0, 1.0) + 0.3 * alpha / g_len)
                        * 1e6
                    )
                    / 1e6
                )
                rows.append((int(doc_id), ntok, stop / g_tok, alpha / g_len, quality))
            yield pd.DataFrame(rows, columns=cols)

    return P.fan_out(docs.select("doc_id", "text")).mapInPandas(
        kernel,
        schema=(
            "doc_id bigint, n_tokens int, stop_ratio double,"
            " alpha_ratio double, quality double"
        ),
    )


def quality_score_staged(spark, view: str = "documents") -> DataFrame:
    """View-name form of :func:`quality_scores_df` (the registry path)."""
    return quality_scores_df(spark.table(view))


# The staged exploded token relation (doc_id, pos, lang, tok, h), pos
# 1-based within the doc, memoized per (view, input files). The
# tokenizer + per-token poly-hash run ONCE in an Arrow kernel (the SQL
# forms evaluate an interpreted HOF split per row, and simhash
# additionally an interpreted per-character hash fold per token
# occurrence); every token-mass consumer (simhash, tf-idf, per-language
# top terms) and RAKE's position-ordered segmentation read the staged
# relation — the SQL alternative for positions (index explode +
# element_at) rebuilds the token array per position, O(n²) per doc.
# At 100 TB this is the tokenized-corpus staging table written next to
# the fingerprint table.
def materialize_tokens(spark, view: str = "documents") -> str:
    import pandas as pd
    import pyarrow as pa

    # mapInArrow, not mapInPandas: the kernel builds python lists either
    # way (tokenization is inherently per-string), so the pandas
    # DataFrame materialization on both edges is pure overhead —
    # measured ~18% off the stage wall at sf0.1 going Arrow-direct.
    def kernel(batches):
        for b in batches:
            doc_ids, poss, langs, toks = [], [], [], []
            for doc_id, lang, txt in zip(
                b.column("doc_id").to_pylist(),
                b.column("lang").to_pylist(),
                b.column("text").to_pylist(),
            ):
                tt = P.py_tokens(txt)
                toks.extend(tt)
                doc_ids.extend([doc_id] * len(tt))
                poss.extend(range(1, len(tt) + 1))
                langs.extend([lang] * len(tt))
            h = (
                P.pd_poly_hash_series(pd.Series(toks, dtype=object)).tolist()
                if toks
                else []
            )
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": pa.array(doc_ids, pa.int64()),
                    "pos": pa.array(poss, pa.int64()),
                    "lang": pa.array(langs, pa.string()),
                    "tok": pa.array(toks, pa.string()),
                    "h": pa.array(h, pa.int64()),
                }
            )

    return P.stage_view(
        spark,
        lambda: P.fan_out(spark.table(view).select("doc_id", "lang", "text")).mapInArrow(
            kernel, schema="doc_id bigint, pos bigint, lang string, tok string, h bigint"
        ),
        "tokens",
        view,
    )


def tfidf_top_terms_staged(spark, k: int = 3, view: str = "documents") -> DataFrame:
    """Spark path for tfidf_top_terms_sql over the staged token
    relation — same integer scoring, same top-k window; the only
    full-volume work left is the (doc, token) hash aggregate.

    Round 11 (now the registry path for text_tfidf_top_terms — the
    bi-engine SQL twin re-tokenized the corpus once per tf reference:
    4 parquet scans in the before plan): the tf relation is
    additionally materialized ONCE per execution — it feeds dl, df and
    scored, and CTE inlining re-ran the explode-aggregate per
    reference. At 100 TB (doc, term, tf) is the term-frequency staging
    table every index builder writes first."""
    tok = materialize_tokens(spark, view)
    # memoized staged relation (round-12, ADVICE r11): the previous
    # per-call localCheckpoint + id()-named temp view accumulated one
    # pinned checkpoint and one catalog view PER EXECUTION for the
    # session's lifetime, and ignored the STAGING_DIR_CONF backend.
    # stage_view is content-addressed and memoized per (session, input
    # lineage, backend) — the (doc, term, tf) relation is the
    # term-frequency staging table every index builder writes once per
    # corpus snapshot; first-touch cost is visible in the bench's
    # pass1_queries block.
    tf_name = P.stage_view(
        spark,
        lambda: spark.sql(
            f"SELECT doc_id, tok AS token, COUNT(*) AS tf FROM {tok} "
            "GROUP BY doc_id, tok"
        ),
        "tfidf_tf",
        view,
    )
    return spark.sql(
        f"""
WITH tf AS (SELECT * FROM {tf_name}),
dl AS (SELECT doc_id, SUM(tf) AS doclen FROM tf GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
nn AS (SELECT COUNT(*) AS n FROM {view}),
scored AS (
  SELECT t.doc_id, t.token, t.tf, f.df,
         CAST(((t.tf * 1000000 DIV l.doclen) * (SELECT n FROM nn)) DIV f.df
              AS BIGINT) AS score_ppm
  FROM tf t
  JOIN dl l ON t.doc_id = l.doc_id
  JOIN df f ON t.token = f.token
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score_ppm
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score_ppm DESC, token
  ) AS rk
  FROM scored
) ranked
WHERE rk <= {k}
"""
    )


# ----------------------------------------------- vocabulary statistics
def vocab_by_source_staged(spark, view: str = "documents") -> DataFrame:
    """Per-source vocabulary profile over the staged token relation:
    total token mass, distinct vocabulary, type-token ratio. One hash
    aggregate per source after the (cheap) doc_id join to recover the
    source column the token stage does not carry; COUNT(DISTINCT tok)
    plans as a two-phase partial-distinct aggregate, so the shuffle
    carries (source, tok) partials, never raw token rows. A 100 TB
    corpus profile is exactly this query, run per ingest batch."""
    tok = materialize_tokens(spark, view)
    return spark.sql(
        f"""
SELECT d.source,
       COUNT(*) AS n_tokens,
       COUNT(DISTINCT t.tok) AS n_vocab,
       CAST(COUNT(DISTINCT t.tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS type_token_ratio
FROM {tok} t JOIN {view} d ON d.doc_id = t.doc_id
GROUP BY d.source
"""
    )


def oracle_vocab_by_source(view: str = "documents") -> str:
    tok = P.duck_tokens("text")
    return f"""
SELECT source,
       COUNT(*) AS n_tokens,
       COUNT(DISTINCT tok) AS n_vocab,
       CAST(COUNT(DISTINCT tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS type_token_ratio
FROM (SELECT d.source, unnest({tok}) AS tok FROM {view} d)
GROUP BY source
"""


def vocab_growth_staged(spark, n_buckets: int = 10, view: str = "documents") -> DataFrame:
    """Heaps-law vocabulary growth curve WITHOUT rescanning per prefix:
    a token's contribution to the running vocabulary is fully described
    by its FIRST occurrence (min doc_id), so one aggregate per token +
    one bucket aggregate + a cumulative window over n_buckets rows
    yields distinct-vocabulary-so-far at every corpus decile. The naive
    form (distinct count per prefix) is n_buckets full scans; this is
    one. Buckets come from integer math over the doc_id domain, so the
    curve is deterministic and engine-identical.

    The token-mass and new-vocab contributions ride ONE bucket
    aggregate over a tagged UNION ALL instead of a join of two
    aggregates (round-10 full plan audit: the join sat below the
    cumulative window's single-partition sort, which the window rule
    cannot prove bounded across a join — and the union form is one
    shuffle cheaper anyway). Every first_seen doc_id is a token
    doc_id, so the union's bucket set equals the old LEFT JOIN's."""
    tok = materialize_tokens(spark, view)
    return spark.sql(
        f"""
WITH m AS (SELECT MAX(doc_id) + 1 AS n FROM {view}),
fs AS (SELECT tok, MIN(doc_id) AS first_seen FROM {tok} GROUP BY tok),
u AS (
  SELECT CAST(({n_buckets} * doc_id) DIV (SELECT n FROM m) AS BIGINT) AS bucket,
         1 AS is_tok, 0 AS is_vocab
  FROM {tok}
  UNION ALL
  SELECT CAST(({n_buckets} * first_seen) DIV (SELECT n FROM m) AS BIGINT) AS bucket,
         0 AS is_tok, 1 AS is_vocab
  FROM fs
),
b AS (
  SELECT bucket, SUM(is_tok) AS toks, SUM(is_vocab) AS new_vocab
  FROM u GROUP BY bucket
)
SELECT bucket,
       CAST(SUM(toks) OVER (ORDER BY bucket) AS BIGINT) AS tokens_cum,
       CAST(SUM(new_vocab) OVER (ORDER BY bucket) AS BIGINT) AS vocab_cum
FROM b
"""
    )


def oracle_vocab_growth(n_buckets: int = 10, view: str = "documents") -> str:
    tok = P.duck_tokens("text")
    return f"""
WITH m AS (SELECT MAX(doc_id) + 1 AS n FROM {view}),
ex AS (SELECT doc_id, unnest({tok}) AS tok FROM {view}),
fs AS (SELECT tok, MIN(doc_id) AS first_seen FROM ex GROUP BY tok),
vocab_b AS (
  SELECT CAST(({n_buckets} * first_seen) // (SELECT n FROM m) AS BIGINT) AS bucket,
         COUNT(*) AS new_vocab
  FROM fs GROUP BY 1
),
mass_b AS (
  SELECT CAST(({n_buckets} * doc_id) // (SELECT n FROM m) AS BIGINT) AS bucket,
         COUNT(*) AS toks
  FROM ex GROUP BY 1
)
SELECT b.bucket,
       CAST(SUM(b.toks) OVER (ORDER BY b.bucket) AS BIGINT) AS tokens_cum,
       CAST(SUM(coalesce(v.new_vocab, 0))
            OVER (ORDER BY b.bucket) AS BIGINT) AS vocab_cum
FROM mass_b b LEFT JOIN vocab_b v ON v.bucket = b.bucket
"""


def token_estimate_staged(spark, view: str = "documents") -> DataFrame:
    """Subword (BPE-ish) token-budget estimate per document: every
    whitespace/alnum token contributes ceil(len/4) subword units (the
    ~4-chars-per-token heuristic real tokenizers average on English
    text) — the number a packing/batching planner needs BEFORE the
    real tokenizer runs. Pure integer math over the staged token
    relation: one aggregate, shuffle carries (doc_id, partials)."""
    tok = materialize_tokens(spark, view)
    return spark.sql(
        f"""
SELECT d.doc_id,
       coalesce(t.n_words, CAST(0 AS BIGINT)) AS n_words,
       coalesce(t.est_subwords, CAST(0 AS BIGINT)) AS est_subwords
FROM {view} d
LEFT JOIN (
  SELECT doc_id,
         COUNT(*) AS n_words,
         SUM((length(tok) + 3) DIV 4) AS est_subwords
  FROM {tok} GROUP BY doc_id
) t ON t.doc_id = d.doc_id
"""
    )


def oracle_token_estimate(view: str = "documents") -> str:
    tok = P.duck_tokens("text")
    return f"""
SELECT d.doc_id,
       coalesce(t.n_words, CAST(0 AS BIGINT)) AS n_words,
       CAST(coalesce(t.est_subwords, 0) AS BIGINT) AS est_subwords
FROM {view} d
LEFT JOIN (
  SELECT doc_id,
         COUNT(*) AS n_words,
         SUM((length(tok) + 3) // 4) AS est_subwords
  FROM (SELECT doc_id, unnest({tok}) AS tok FROM {view})
  GROUP BY doc_id
) t ON t.doc_id = d.doc_id
"""


def bigram_lm_score_sql(view: str = "documents") -> str:
    """Corpus-frequency bigram fluency score per document — the log-free
    stand-in for the LM-perplexity quality filter (CCNet trains a
    5-gram KenLM and keeps low-perplexity text; reference has no text
    plane at all, this extends the DIZ quality-gate discipline,
    `Helper.cs` audit plane, to corpus curation). Two integer metrics
    per doc:

    - ``singleton_ppm``: share of the doc's bigrams that occur nowhere
      else in the corpus (high → gibberish / OOV-heavy text);
    - ``avg_freq_ppm``: mean corpus frequency of the doc's bigrams in
      ppm of total bigram mass (high → text made of common
      transitions).

    Rational integer arithmetic only (DETERMINISM.md): LN-perplexity
    would diverge in the last ulp across engines; the integer ratios
    preserve the same ranking for thresholding.

    Scale shape: one explode → (bigram) hash agg; the bigram frequency
    relation is vocabulary²-bounded (far below corpus size — at 100 TB
    it is still ≤ |V|² rows, and the heavy head dominates), joined back
    onto the per-doc bigram relation by bigram key; one per-doc
    re-aggregation. Docs with < 2 tokens have no bigrams and drop out,
    matching SQL's empty-group elimination."""
    # tokenize ONCE in an inner projection: the n-gram builder
    # references its token array several times per element, and
    # inlining the tokenizer expression would re-split the document
    # for every bigram — O(tokens²) per doc. freq_mass * 1e6 passes
    # 2^63 on a large corpus (~1e12-token mass x common-bigram
    # counts): widen to HUGEINT before the multiply — the same guard
    # _PMI_FRAGS documents.
    big_sql = (
        f"SELECT doc_id, unnest({P.duck_ngrams('t', 2)}) AS bg "
        f"FROM (SELECT doc_id, {P.duck_tokens('text')} AS t FROM {view})"
    )
    return f"""
WITH big AS ({big_sql}),
bf AS (SELECT bg, COUNT(*) AS cnt FROM big GROUP BY bg),
tot AS (SELECT SUM(cnt) AS mass FROM bf),
doc AS (
  SELECT b.doc_id,
         COUNT(*) AS n_bigrams,
         SUM(CASE WHEN f.cnt = 1 THEN 1 ELSE 0 END) AS n_singleton,
         SUM(f.cnt) AS freq_mass
  FROM big b JOIN bf f ON b.bg = f.bg
  GROUP BY b.doc_id
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_singleton * 1000000 // n_bigrams AS BIGINT) AS singleton_ppm,
       CAST(CAST(freq_mass AS HUGEINT) * 1000000
            // (CAST(n_bigrams AS HUGEINT) * (SELECT mass FROM tot))
            AS BIGINT) AS avg_freq_ppm
FROM doc
"""


def materialize_bigrams(spark, view: str = "documents") -> str:
    """Stage the multiplicity-preserving bigram relation
    (doc_id, bg) once per (session, view, input files) — shared by the
    bigram-LM scorer and the PMI collocation miner, exactly like the
    token stage above. Returns the temp-view name."""
    big_sql = (
        f"SELECT doc_id, bg FROM "
        f"(SELECT doc_id, {P.spark_tokens('text')} AS t FROM {view}) "
        f"LATERAL VIEW explode({P.spark_ngrams('t', 2)}) x AS bg"
    )
    return P.stage_view(spark, lambda: P.fan_out(spark.sql(big_sql)), "bigrams", view)


def bigram_lm_score_staged(spark, view: str = "documents") -> DataFrame:
    """Spark path for bigram_lm_score_sql over a STAGED bigram
    relation: the single-statement form references the exploded bigram
    CTE twice (frequency build + per-doc join) and Spark inlines CTEs,
    so tokenize+explode would run twice (plan showed 6 Generate nodes).
    Staging pays the explode once — SCALE.md ground rule #3 — and the
    memo keys on (session, view, input files) like the token stage.
    Oracle stays the single-statement SQL."""
    name = materialize_bigrams(spark, view)
    return spark.sql(
        f"""
WITH bf AS (SELECT bg, COUNT(*) AS cnt FROM {name} GROUP BY bg),
tot AS (SELECT SUM(cnt) AS mass FROM bf),
doc AS (
  SELECT b.doc_id,
         COUNT(*) AS n_bigrams,
         SUM(CASE WHEN f.cnt = 1 THEN 1 ELSE 0 END) AS n_singleton,
         SUM(f.cnt) AS freq_mass
  FROM {name} b JOIN bf f ON b.bg = f.bg
  GROUP BY b.doc_id
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_singleton * 1000000 DIV n_bigrams AS BIGINT) AS singleton_ppm,
       CAST(CAST(freq_mass AS DECIMAL(38,0)) * 1000000
            DIV (CAST(n_bigrams AS DECIMAL(38,0)) * (SELECT mass FROM tot))
            AS BIGINT) AS avg_freq_ppm
FROM doc
"""
    )


def zipf_bucket_profile_sql(view: str = "documents") -> tuple[str, str]:
    """Zipf rank-frequency profile per source: bucket each source's
    vocabulary by log2(rank) and report terms-per-bucket and
    occurrences-per-bucket. Natural text tracks freq ~ 1/rank, so
    occurrence mass per doubling bucket is roughly flat; template spam
    and boilerplate bend the curve — a cheap corpus-health gauge that
    needs no reference model.

    Determinism: rank is a ROW_NUMBER over the total order
    (count DESC, term ASC); the log2 bucket is a generated integer
    CASE ladder, NOT floor(log2()) — FP log is not safe cross-engine
    (DETERMINISM.md). All outputs are integers.

    Scale shape: explode -> (source, term) hash aggregate with map-side
    combine; the rank window partitions by source over the already
    vocabulary-sized relation; the bucket rollup output is
    |sources| x ~20 rows.
    """
    ladder = " ".join(
        f"WHEN rk < {2 ** (j + 1)} THEN {j}" for j in range(20)
    )
    bucket = f"(CASE {ladder} ELSE 20 END)"
    spark_tok = (
        f"SELECT source, token FROM {view} "
        f"LATERAL VIEW explode({P.spark_tokens('text')}) x AS token"
    )
    duck_tok = (
        f"SELECT source, unnest({P.duck_tokens('text')}) AS token FROM {view}"
    )
    template = f"""
WITH tok AS ({{tok_sql}}),
tf AS (SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token),
ranked AS (
  SELECT source, n,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n DESC, token ASC) AS rk
  FROM tf
)
SELECT source, {bucket} AS rank_bucket,
       COUNT(*) AS n_terms,
       CAST(SUM(n) AS BIGINT) AS n_occurrences
FROM ranked
GROUP BY source, {bucket}
"""
    return P.bi_sql(template, tok_sql=(spark_tok, duck_tok))


def ngram_novelty_sql(view: str = "documents") -> str:
    """Per-document shingle novelty: the share of a document's distinct
    word 3-gram shingles (in 64-bit hash space — the dedup family's
    fingerprint domain, see dedup._HASHSET_PROLOGUE) that no earlier
    document (by doc_id) contains. Appending data in doc_id order,
    this is the marginal-novelty curve of the corpus — the signal a
    curation loop reads to decide when a source has stopped
    contributing new content.

    Scale shape: first-seen is a hash aggregate on the shingle hash
    (vocabulary-sized, map-side combined) carried back by the same-key
    window — linear in the exploded relation, never all-pairs.
    Documents shorter than 3 tokens have no shingles and no output
    row, identically in both engines. Integer-only output.

    The registry's Spark path is ngram_novelty_staged (shares the
    memoized Arrow-kernel hashset relation); this SQL twin is the
    oracle and the plan-shape documentation.
    """
    from .dedup import _HASHSET_PROLOGUE, _hashset_frags

    template = _HASHSET_PROLOGUE + """,
ex AS (SELECT doc_id, {explode}(hs) AS h FROM hs),
firsts AS (SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h)
SELECT ex.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = ex.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END) * 1000000
            {idiv} COUNT(*) AS BIGINT) AS novelty_ppm
FROM ex JOIN firsts f ON ex.h = f.h
GROUP BY ex.doc_id
"""
    return P.duck_sql(template, **_hashset_frags(view))


def ngram_novelty_staged(spark: SparkSession, view: str = "documents") -> DataFrame:
    """Spark path for ngram_novelty_sql: explode the memoized
    Arrow-kernel shingle-hashset relation (shared with the whole dedup
    family — the tokenizer never re-runs), carry first_doc with ONE
    min-window over h (no join back), then the per-doc rollup."""
    from pyspark.sql import Window

    from .dedup import materialize_hashsets

    hs_rel = materialize_hashsets(spark, view)
    ex = spark.table(hs_rel).select("doc_id", F.explode("hs").alias("h"))
    w = Window.partitionBy("h")
    flagged = ex.withColumn("first_doc", F.min("doc_id").over(w))
    novel = F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0))
    return (
        flagged.groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"), novel.alias("n_novel"))
        # exact integer division — FP `/` + cast could round the wrong way
        .withColumn("novelty_ppm", F.expr("CAST(n_novel * 1000000 DIV n_shingles AS BIGINT)"))
    )


def boilerplate_prefixes_sql(
    n_tokens: int = 8, min_docs: int = 2, view: str = "documents"
) -> tuple[str, str]:
    """Boilerplate-prefix detection: hash each document's first
    ``n_tokens`` tokens and report prefixes shared by >= ``min_docs``
    documents — the cheap first pass for template/header removal
    (licence blocks, navigation chrome, scraped-page skeletons), which
    exact-dedup misses because the BODIES differ.

    Scale shape: the prefix collapses to an 8-byte hash in the first
    projection (one Arrow-free map pass — the slice bounds the lambda
    to n_tokens, unlike full-text hashing); one hash aggregate on the
    prefix hash; HAVING prunes the unique mass. Output is the (small)
    boilerplate candidate list. Integer-only.
    """
    spark_prefix = f"array_join(slice({P.spark_tokens('text')}, 1, {n_tokens}), ' ')"
    duck_prefix = f"array_to_string(({P.duck_tokens('text')})[1:{n_tokens}], ' ')"
    template = f"""
WITH p AS (
  SELECT doc_id, source, {{prefix_hash}} AS ph FROM {view}
)
SELECT ph AS prefix_hash,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       MIN(doc_id) AS sample_doc
FROM p
GROUP BY ph
HAVING COUNT(*) >= {min_docs}
"""
    return P.bi_sql(
        template,
        prefix_hash=(
            P.spark_poly_hash(spark_prefix),
            P.duck_poly_hash(duck_prefix),
        ),
    )


# --------------------------------------------------------- collocations
def _pmi_body(
    big_sql: str, uni_sql: str, min_count: int, k: int,
    uni_is_counts: bool = False,
) -> str:
    """Shared PMI template; engine differences arrive via .format frags
    (integer division, wide-integer type, bigram split).
    ``uni_is_counts``: ``uni_sql`` already IS the (w, c) count relation
    (the staged path passes the materialized unigram table, so the
    template must not re-aggregate it)."""
    uni_cte = (
        f"SELECT w, c FROM ({uni_sql}) u"
        if uni_is_counts
        else f"SELECT w, COUNT(*) AS c FROM ({uni_sql}) u GROUP BY w"
    )
    return f"""
WITH pair AS (SELECT bg, COUNT(*) AS c_ab FROM ({big_sql}) GROUP BY bg),
uni AS ({uni_cte}),
n AS (SELECT SUM(c) AS n_tok FROM uni),
sp AS (
  SELECT {{w1}} AS w1, {{w2}} AS w2, c_ab
  FROM pair WHERE c_ab >= {min_count}
),
j AS (
  SELECT sp.w1, sp.w2, sp.c_ab, a.c AS c_a, b.c AS c_b,
         CAST(CAST(sp.c_ab AS {{big_t}}) * 1000000 * (SELECT n_tok FROM n)
              {{idiv}} (a.c * b.c) AS BIGINT) AS lift_ppm
  FROM sp JOIN uni a ON sp.w1 = a.w JOIN uni b ON sp.w2 = b.w
),
r AS (
  SELECT j.*, ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, w1, w2) AS rk FROM j
)
SELECT w1, w2, c_ab, c_a, c_b, lift_ppm FROM r WHERE rk <= {k}
"""


_PMI_FRAGS = dict(
    w1=("element_at(split(bg, ' '), 1)", "split_part(bg, ' ', 1)"),
    w2=("element_at(split(bg, ' '), 2)", "split_part(bg, ' ', 2)"),
    # lift numerator reaches c_ab * 1e6 * n_tok — past 2^53 on a big
    # corpus, so it must stay EXACT-INTEGER in both engines: Spark
    # decimals are exact at any precision <= 38; DuckDB DECIMAL
    # multiplication that would exceed width 38 silently converts to
    # DOUBLE (lossy past 2^53), so the oracle runs on HUGEINT instead.
    big_t=("DECIMAL(38,0)", "HUGEINT"),
    idiv=("DIV", "//"),
)


def pmi_collocations_sql(
    min_count: int = 3, k: int = 50, view: str = "documents"
) -> str:
    """Top-k adjacent-word collocations by PMI lift — the classic
    phrase miner (Church & Hanks, CL'90; word2vec's phrase pass uses
    the same count ratio). lift_ppm = p(ab) / (p(a)·p(b)) in ppm with
    ALL probabilities as exact integer count ratios over one shared
    N: FP log would diverge in the last ulp across engines
    (DETERMINISM.md), and PMI = log(lift) is monotone in lift, so the
    integer lift ranks pairs identically.

    Scale shape: two explode → hash-aggregate passes (bigrams, then
    unigrams), both with map-side combine and vocabulary-bounded
    output; the pair↔unigram joins key on the word (vocabulary-sized
    build sides); the global top-k window collapses to a per-partition
    group-limit under Spark's WindowGroupLimit, so no single-partition
    sort of the full pair relation ever happens.

    Reference anchor: extends the reference's report plane
    (Helper.cs:606-1292 aggregates over run metadata) to corpus
    phrase statistics; the reference has no text plane.
    """
    big = (
        f"SELECT doc_id, unnest({P.duck_ngrams('t', 2)}) AS bg "
        f"FROM (SELECT doc_id, {P.duck_tokens('text')} AS t FROM {view})"
    )
    uni = f"SELECT unnest({P.duck_tokens('text')}) AS w FROM {view}"
    return P.duck_sql(_pmi_body(big, uni, min_count, k), **_PMI_FRAGS)


def pmi_collocations_staged(
    spark, min_count: int = 3, k: int = 50, view: str = "documents"
) -> DataFrame:
    """Spark path over the STAGED bigram and token relations: the
    single-statement form tokenizes the corpus twice (bigram CTE +
    unigram CTE) under Spark's CTE inlining; the staged twin pays each
    explode once per session and both stages are shared with the
    bigram-LM scorer / tf-idf family (materialize_bigrams,
    materialize_tokens). Oracle stays the single-statement SQL."""
    big = materialize_bigrams(spark, view)
    tok = materialize_tokens(spark, view)
    # the unigram count table is staged once per session (round 12,
    # guide §2.4): the template references uni THREE times (the n_tok
    # scalar and both sides of the pair↔unigram join), so the inlined
    # form re-ran the vocabulary aggregate over the token relation 3x
    # per execution; the (w, c) table is vocabulary-bounded and a pure
    # function of the corpus snapshot
    uni = P.stage_view(
        spark,
        lambda: spark.sql(f"SELECT tok AS w, COUNT(*) AS c FROM {tok} GROUP BY tok"),
        "unigram_counts",
        view,
    )
    body = _pmi_body(
        f"SELECT bg FROM {big}",
        f"SELECT w, c FROM {uni}",
        min_count,
        k,
        uni_is_counts=True,
    )
    return spark.sql(body.format(**{f: v[0] for f, v in _PMI_FRAGS.items()}))


# ------------------------------------------------------- RAG chunking
def chunk_overlap_sql(
    w: int = 12, stride: int = 8, view: str = "documents"
) -> str:
    """Overlapping token-window chunk plan — the retrieval/packing
    chunker (RAG indexing, long-doc training windows): each document
    explodes into windows of ``w`` tokens every ``stride`` tokens
    (overlap = w - stride), with the window's token offset, actual
    length, and content hash. Unlike spark_chunks (non-overlapping,
    exact-substring dedup granularity) the overlapping form preserves
    cross-boundary context, which is what embedding indexes want.

    Scale shape: one projection computes the token array, one lateral
    explode emits ~n/stride rows per doc — no shuffle at all until a
    downstream consumer aggregates; the chunk text itself is dropped
    in the same projection (only the 8-byte hash survives), so the
    exploded relation is narrow. Chunk count per doc is bounded by
    ceil(n/stride), so output size is linear in corpus token count.

    Reference anchor: the reference's row-range slicing plane
    (CommandExecuter.cs batching) slices by row windows; this is the
    token-level analogue the LLM pipeline needs.
    """
    chunk_text = (
        f"array_to_string(list_slice(toks, j * {stride} + 1, j * {stride} + {w}), ' ')"
    )
    # chunk j covers tokens [j*stride+1, j*stride+w]; j ranges over
    # 0 .. floor((n-1)/stride) for n > 0 (last window may be short).
    return f"""
WITH t AS (SELECT doc_id, {P.duck_tokens("text")} AS toks FROM {view}),
c AS (
  SELECT doc_id,
         j AS chunk_id,
         j * {stride} AS start_token,
         least({w}, len(toks) - j * {stride}) AS n_tokens,
         {P.duck_poly_hash(chunk_text)} AS chunk_hash
  FROM t , LATERAL (SELECT unnest(range(0, greatest(len(toks) - 1, 0) // {stride} + 1)) AS j) x
  WHERE len(toks) > 0
)
SELECT doc_id, chunk_id, start_token, n_tokens, chunk_hash FROM c
"""


# --------------------------------------------------- Gopher-style rules
_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that")


def gopher_rules_sql(view: str = "documents") -> tuple[str, str]:
    """Per-source Gopher-style quality-rule report (Rae et al. 2021,
    §A1.1): word-count bounds, mean-word-length bounds, symbol-to-word
    ratio, ellipsis ratio, stopword fraction — the standard rule gate
    a web corpus passes BEFORE model-based filtering. Thresholds are
    scaled to the synthetic corpus; every rule is decided in exact
    integer arithmetic (ratios become cross-multiplications), so the
    report hash-matches the oracle with no FP anywhere.

    Scale shape: one projection computes per-doc token counts and
    character counts (no explode — aggregate() folds the token array
    in place), one hash aggregate by source. Zero joins; output is
    |sources| rows. At 100 TB this is a single map-side-combinable
    scan, the cheapest possible full-corpus pass.
    """
    in_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    template = f"""
WITH d AS (
  SELECT source,
         {{nw}} AS n_words,
         {{sumlen}} AS sum_word_len,
         (length(text) - length(replace(text, '#', ''))) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3 AS n_ellipsis,
         {{nstop}} AS n_stop
  FROM (SELECT source, text, {{toks}} AS toks FROM {view})
)
SELECT source,
       COUNT(*) AS n_docs,
       {{b}}(SUM(CASE WHEN n_words < 10 OR n_words > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
       {{b}}(SUM(CASE WHEN sum_word_len < 3 * n_words OR sum_word_len > 10 * n_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
       {{b}}(SUM(CASE WHEN n_hash * 10 > n_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol,
       {{b}}(SUM(CASE WHEN n_ellipsis * 10 > n_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_ellipsis,
       {{b}}(SUM(CASE WHEN n_stop * 10 < n_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
       {{b}}(SUM(CASE WHEN NOT (n_words < 10 OR n_words > 5000)
                   AND NOT (sum_word_len < 3 * n_words OR sum_word_len > 10 * n_words)
                   AND NOT (n_hash * 10 > n_words)
                   AND NOT (n_ellipsis * 10 > n_words)
                   AND NOT (n_stop * 10 < n_words) THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM d
GROUP BY source
"""
    return P.bi_sql(
        template,
        toks=(P.spark_tokens("text"), P.duck_tokens("text")),
        nw=("size(toks)", "len(toks)"),
        sumlen=(
            "aggregate(toks, 0L, (acc, x) -> acc + length(x))",
            "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))), (acc, x) -> acc + x)",
        ),
        nstop=(
            f"size(filter(toks, x -> x IN ({in_list})))",
            f"len(list_filter(toks, x -> x IN ({in_list})))",
        ),
        b="CAST",
    )


# ------------------------------------------- hashed linear quality model
def hashed_linear_score_sql(
    d: int = 64, view: str = "documents"
) -> str:
    """fastText-style hashed-feature linear scorer: each token hashes
    into one of ``d`` buckets, a (deterministic, integer) weight table
    maps buckets to weights, and a document's score is the sum of its
    token-bucket weights — the standard shape of a cheap learned
    quality / language / topic classifier applied at corpus scale
    (weights trained offline, applied as a broadcast join here).

    Scale shape: tokens explode once; bucket = hash % d is computed in
    the same projection, and the weight relation is ``d`` rows — a
    broadcast build side by construction (the Spark path hints it; at 100 TB
    the weight table for a real model is O(vocab buckets), still MBs).
    The per-doc sum is one hash aggregate keyed on doc_id. Integer
    weights keep the score exact across engines.
    """
    return f"""
WITH w AS (
  SELECT id AS bucket, (id * 37) % 13 - 6 AS wt
  FROM range(0, {d}) t(id)
),
tok AS (
  SELECT doc_id, {P.duck_poly_hash("tk")} % {d} AS bucket
  FROM (SELECT doc_id, unnest({P.duck_tokens('text')}) AS tk FROM {view}) t
)
SELECT  tok.doc_id AS doc_id,
       CAST(SUM(w.wt) AS BIGINT) AS score,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       (SUM(w.wt) > 0) AS keep
FROM tok JOIN w ON tok.bucket = w.bucket
GROUP BY tok.doc_id
"""


def hashed_linear_score_staged(spark, d: int = 64, view: str = "documents"):
    """Execution path for :func:`hashed_linear_score_sql`'s semantics
    over the SHARED staged token relation: the single-statement form
    re-tokenizes and re-hashes the corpus with the interpreted SQL
    lambda fold (measured 1.26 s at sf0.1); the staged twin reuses the
    Arrow-hashed (doc_id, tok, h) relation the tfidf/vocab/PMI family
    already pays for once per session, leaving only bucket = h % d,
    the broadcast weight join, and the per-doc aggregate. Oracle stays
    the single-statement SQL."""
    return spark.sql(
        f"""
WITH w AS (
  SELECT id AS bucket, (id * 37) % 13 - 6 AS wt FROM range(0, {d})
)
SELECT /*+ BROADCAST(w) */ t.doc_id AS doc_id,
       CAST(SUM(w.wt) AS BIGINT) AS score,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       (SUM(w.wt) > 0) AS keep
FROM (SELECT doc_id, h % {d} AS bucket FROM {materialize_tokens(spark, view)}) t
JOIN w ON t.bucket = w.bucket
GROUP BY t.doc_id
"""
    )


def chunk_overlap_df(spark, w: int = 12, stride: int = 8, view: str = "documents"):
    """Execution path for :func:`chunk_overlap_sql`'s semantics with
    the chunk hash computed by the vectorized Arrow kernel instead of
    the interpreted per-character SQL fold: chunk structs (id, offset,
    length, text) are built in ONE array transform per document and
    exploded — so the token array is materialized once per doc, not
    once per chunk — then pd_poly_hash maps the exploded chunk text
    column in Arrow batches. Same values by construction
    (DETERMINISM.md: the kernel replays the SQL fold in exact integer
    arithmetic). Zero shuffle, like the SQL form."""
    from pyspark.sql import functions as F

    toks = P.spark_tokens("text")
    chunks = (
        f"transform(sequence(0, (size(toks) - 1) DIV {stride}), "
        f"j -> struct(j AS chunk_id, j * {stride} AS start_token, "
        f"least({w}, size(toks) - j * {stride}) AS n_tokens, "
        f"concat_ws(' ', slice(toks, j * {stride} + 1, {w})) AS txt))"
    )
    exploded = (
        spark.table(view)
        .selectExpr("doc_id", f"{toks} AS toks")
        .filter("size(toks) > 0")
        .selectExpr("doc_id", f"explode({chunks}) AS c")
        .selectExpr("doc_id", "c.chunk_id", "c.start_token", "c.n_tokens", "c.txt")
    )
    ph = P.pd_poly_hash_udf()
    return exploded.withColumn("chunk_hash", ph(F.col("txt"))).drop("txt")


# ----------------------------------------------------------- BPE trainer
def bpe_merges_sql(rounds: int = 3, view: str = "documents") -> str:
    """BPE merge training (Sennrich et al., ACL'16), ``rounds`` merge
    rounds unrolled into ONE declarative statement per engine — the
    tokenizer-training step of an LLM pipeline run where it belongs:
    on the WORD-COUNT table (vocabulary-sized), never the raw corpus.
    Each round counts adjacent symbol pairs weighted by word
    frequency, elects the most frequent pair (count DESC, pair ASC —
    total order, deterministic), and applies the merge to every word's
    symbol sequence. Output: the merge table (round, merged pair, its
    count at election time) — exactly what a tokenizer ships.

    Merge application is ONE replace() over a pipe-wrapped symbol
    encoding ('|a| |b|' per adjacent pair): a match ends at the second
    symbol's closing pipe, so no inter-pair separator is ever consumed
    and left-to-right non-overlapping replace() IS greedy BPE merging
    exactly — including odd runs of a self-pair, where space-padded
    encodings mis-segment (caught by hypothesis:
    test_bpe_wrapped_replace_equals_greedy_merge; DETERMINISM.md §23).
    Pipes cannot collide: symbols are alnum-token substrings.

    Scale shape: after the one corpus-sized explode→count, every round
    is vocabulary-sized: pair counting explodes |V| short sequences,
    the elected pair is a 1-row broadcast, the merge is a map-side
    string transform. At 100 TB the corpus pass is the same staged
    token relation the text family shares; rounds cost O(|V|) each
    regardless of corpus size — the reason real BPE trainers run on
    word counts.
    """
    cte = _bpe_merge_ctes(rounds, view)
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, replace(pr, '|', '') AS merged_pair, "
        f"pcnt AS pair_count FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(cte) + "\n" + union


def _bpe_merge_ctes(rounds: int, view: str) -> list[str]:
    """The unrolled BPE merge-training CTE chain (DuckDB) shared by
    bpe_merges_sql and the BPE encode/budget/fertility oracles.
    Relations: w{r} = vocabulary after r merges (tok, cnt, seq), b{r} =
    round r's elected pair. The CTEs are AS MATERIALIZED: w{r} is
    referenced by both p{r+1} and w{r+1}, so default inlining re-derives
    the corpus explode 2^rounds times (the kcore-oracle failure class)."""
    chars = (
        "array_to_string(list_transform(list_filter(regexp_split_to_array(tok, ''), "
        "x -> x != ''), c -> concat('|', c, '|')), ' ')"
    )
    ngrams = P.duck_ngrams("str_split(seq, ' ')", 2)
    cte = [
        f"""w0 AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt, {chars} AS seq
  FROM (SELECT unnest({P.duck_tokens("text")}) AS tok FROM {view}) t
  GROUP BY tok
)"""
    ]
    for r in range(1, rounds + 1):
        cte.append(
            f"""p{r} AS MATERIALIZED (
  SELECT pr, CAST(SUM(cnt) AS BIGINT) AS pcnt
  FROM (SELECT cnt, unnest({ngrams}) AS pr FROM w{r - 1}) x
  GROUP BY pr
)"""
        )
        cte.append(
            f"""b{r} AS MATERIALIZED (
  SELECT pr, pcnt FROM p{r} ORDER BY pcnt DESC, pr ASC LIMIT 1
)"""
        )
        cte.append(
            f"""w{r} AS MATERIALIZED (
  SELECT w.tok, w.cnt,
         replace(w.seq, b.pr,
                 concat('|', replace(replace(b.pr, '|', ''), ' ', ''), '|')) AS seq
  FROM w{r - 1} w CROSS JOIN b{r} b
)"""
        )
    return cte


def _bpe_train_staged(
    spark, rounds: int = 3, view: str = "documents"
) -> tuple[list[tuple[int, str, int]], str]:
    """BPE merge training with the word-count relation STAGED once and
    each round's merged vocabulary re-staged: the single-statement form
    lets CTE inlining replay the corpus explode and every earlier
    round's string transforms into each later round (cost multiplies
    per round — measured 5.2 s at sf0.01 vs 0.6 s staged). The elected
    pair is a 1-row driver pickup per round (the scalar convergence-
    probe class graph.pagerank also uses), which turns the merge into
    a LITERAL replace — constant-folded into codegen, no cross join.

    Returns (merge table rows, staged FINAL-vocabulary view name) —
    the final vocab (tok, cnt, seq after all merges) is what the
    encoder applies to documents; memoized per (session, corpus,
    rounds) so training is paid once per session."""
    return P.memo(
        spark, "bpe_train", (view, rounds), spark.table(view),
        lambda key: _bpe_train(spark, rounds, view, key),
        # rounds == 0 hands out the w0 view, which its own entry owns
        release=lambda v: spark.catalog.dropTempView(v[1]) if v[0] else None,
    )


def _bpe_train(spark, rounds: int, view: str, key: tuple):
    from pyspark.sql import functions as F

    w0 = P.stage_view(
        spark,
        lambda: spark.sql(
            f"""
SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
       array_join(transform(filter(split(tok, ''), x -> x != ''),
                            c -> concat('|', c, '|')), ' ') AS seq
FROM (SELECT explode({P.spark_tokens('text')}) AS tok FROM {view}) t
GROUP BY tok"""
        ),
        "bpe_w0",
        view,
    )
    w = spark.table(w0)

    ngrams = P.spark_ngrams("split(seq, ' ')", 2)
    merges = []
    # Each round's vocabulary is the staged w0 with r LITERAL replaces
    # chained on top — NOT re-staged per round: the elected pair is a
    # constant, so the replace chain stays a constant-folded codegen
    # projection over ONE small staged relation, and the per-round
    # materialization barrier (a localCheckpoint/parquet write per
    # round, 2 extra sequential jobs each) disappears. Only the FINAL
    # vocabulary is staged (it is what the encoder joins against and
    # what the session memo hands out); intermediate vocabularies have
    # exactly one consumer — the next round's pair election — so
    # staging them bought nothing.
    for r in range(1, rounds + 1):
        top = (
            w.selectExpr("cnt", f"explode({ngrams}) AS pr")
            .groupBy("pr")
            .agg(F.sum("cnt").alias("pcnt"))
            .orderBy(F.desc("pcnt"), F.asc("pr"))
            .limit(1)
            .collect()[0]
        )
        merges.append((r, top.pr.replace("|", ""), int(top.pcnt)))
        pat = top.pr
        rep = "|" + top.pr.replace("|", "").replace(" ", "") + "|"
        w = w.withColumn("seq", F.expr(f"replace(seq, '{pat}', '{rep}')"))
    if not merges:  # rounds == 0: the vocabulary IS the staged w0
        return merges, w0
    name = P.stage_name("bpe_w", key + (tuple(m[1] for m in merges),))
    P.stage_df(w, name).createOrReplaceTempView(name)
    return merges, name


def bpe_merges_staged(spark, rounds: int = 3, view: str = "documents") -> DataFrame:
    """Execution path for :func:`bpe_merges_sql`'s semantics (see
    :func:`_bpe_train_staged`). Oracle stays the single-statement SQL."""
    merges, _vocab = _bpe_train_staged(spark, rounds, view)
    return spark.createDataFrame(
        merges, "round int, merged_pair string, pair_count bigint"
    )


def bpe_encode_staged(spark, rounds: int = 3, view: str = "documents") -> DataFrame:
    """Apply the LEARNED merges to actually encode the corpus: true BPE
    token counts per document, beside the ceil(len/4) estimate the
    budget planners previously ran on (closing round-4 VERDICT item
    #3). Encoding a document under trained BPE is word-local, so it
    happens on the VOCABULARY (tok → final merged seq → symbol count),
    never the raw text: per-doc counts come from one join of the
    staged (doc_id, tok) relation against the |V|-row vocab and an
    integer aggregate. At 100 TB the join build side is the vocab —
    broadcast-sized — and the probe reuses the staged token relation
    every text op shares; nothing new touches raw text.

    Output: doc_id, n_tokens_bpe (true count), est_subwords (the
    heuristic), both BIGINT; docs with no tokens count 0."""
    _merges, vocab = _bpe_train_staged(spark, rounds, view)
    tok = materialize_tokens(spark, view)
    return spark.sql(
        f"""
SELECT d.doc_id,
       coalesce(t.n_tokens_bpe, CAST(0 AS BIGINT)) AS n_tokens_bpe,
       coalesce(t.est_subwords, CAST(0 AS BIGINT)) AS est_subwords
FROM {view} d
LEFT JOIN (
  SELECT tk.doc_id,
         CAST(SUM(size(split(v.seq, ' '))) AS BIGINT) AS n_tokens_bpe,
         CAST(SUM((length(tk.tok) + 3) DIV 4) AS BIGINT) AS est_subwords
  FROM {tok} tk JOIN {vocab} v ON v.tok = tk.tok
  GROUP BY tk.doc_id
) t ON t.doc_id = d.doc_id"""
    )


def oracle_bpe_encode(rounds: int = 3, view: str = "documents") -> str:
    """Single-statement DuckDB oracle for :func:`bpe_encode_staged`:
    the same unrolled merge training (materialized CTEs), then the
    vocab join + per-doc aggregate."""
    ctes = _bpe_merge_ctes(rounds, view)
    ctes.append(
        f"""v AS MATERIALIZED (
  SELECT tok, CAST(len(str_split(seq, ' ')) AS BIGINT) AS n_sym FROM w{rounds}
)"""
    )
    ctes.append(
        f"""dt AS (
  SELECT doc_id, unnest({P.duck_tokens('text')}) AS tok FROM {view}
)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT d.doc_id,
       CAST(coalesce(t.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe,
       CAST(coalesce(t.est_subwords, 0) AS BIGINT) AS est_subwords
FROM {view} d
LEFT JOIN (
  SELECT dt.doc_id,
         SUM(v.n_sym) AS n_tokens_bpe,
         SUM((length(dt.tok) + 3) // 4) AS est_subwords
  FROM dt JOIN v ON v.tok = dt.tok
  GROUP BY dt.doc_id
) t ON t.doc_id = d.doc_id"""
    )


def bpe_token_budget_staged(
    spark, rounds: int = 3, budget: int = 500000, view: str = "documents"
) -> DataFrame:
    """Token-budget planning per LANGUAGE on TRUE BPE token counts,
    with the estimate-vs-actual drift the planner previously couldn't
    see: est ceil(len/4) subwords vs the trained encoder's counts,
    per language (drift is language-dependent — the 4-chars/token
    heuristic is tuned on English). drift_permille = est*1000/actual,
    integer-exact; token_quota follows corpus_token_budget's T=2
    temperature rule (sqrt weights, integer micro-units) so the two
    planners are directly comparable. One |docs|-row join of the
    encode relation against the doc table, then a |langs|-row window."""
    return spark.sql(
        f"""
WITH lt AS (
  SELECT d.lang, COUNT(*) AS n_docs,
         CAST(SUM(e.n_tokens_bpe) AS BIGINT) AS bpe_tokens,
         CAST(SUM(e.est_subwords) AS BIGINT) AS est_tokens
  FROM {view} d JOIN {{enc}} e ON e.doc_id = d.doc_id
  GROUP BY d.lang
),
w AS (
  SELECT lang, n_docs, bpe_tokens, est_tokens,
         CAST(ROUND(SQRT(CAST(bpe_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro
  FROM lt
)
SELECT lang, n_docs, bpe_tokens, est_tokens,
       CAST(est_tokens * 1000 DIV bpe_tokens AS BIGINT) AS drift_permille,
       CAST(({budget} * w_micro) DIV SUM(w_micro) OVER () AS BIGINT) AS token_quota
FROM w""",
        enc=bpe_encode_staged(spark, rounds, view),
    )


def oracle_bpe_token_budget(
    rounds: int = 3, budget: int = 500000, view: str = "documents"
) -> str:
    ctes = _bpe_merge_ctes(rounds, view)
    ctes.append(
        f"""v AS MATERIALIZED (
  SELECT tok, CAST(len(str_split(seq, ' ')) AS BIGINT) AS n_sym FROM w{rounds}
)"""
    )
    ctes.append(
        f"""dt AS (
  SELECT doc_id, unnest({P.duck_tokens('text')}) AS tok FROM {view}
)"""
    )
    ctes.append(
        """enc AS MATERIALIZED (
  SELECT dt.doc_id,
         SUM(v.n_sym) AS n_tokens_bpe,
         SUM((length(dt.tok) + 3) // 4) AS est_subwords
  FROM dt JOIN v ON v.tok = dt.tok
  GROUP BY dt.doc_id
)"""
    )
    ctes.append(
        f"""lt AS (
  SELECT d.lang, COUNT(*) AS n_docs,
         CAST(SUM(e.n_tokens_bpe) AS BIGINT) AS bpe_tokens,
         CAST(SUM(e.est_subwords) AS BIGINT) AS est_tokens
  FROM {view} d JOIN enc e ON e.doc_id = d.doc_id
  GROUP BY d.lang
)"""
    )
    ctes.append(
        """w AS (
  SELECT lang, n_docs, bpe_tokens, est_tokens,
         CAST(ROUND(SQRT(CAST(bpe_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro
  FROM lt
)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT lang, n_docs, bpe_tokens, est_tokens,
       CAST(est_tokens * 1000 // bpe_tokens AS BIGINT) AS drift_permille,
       CAST(({budget} * w_micro) // SUM(w_micro) OVER () AS BIGINT) AS token_quota
FROM w"""
    )


def filter_waterfall_sql(view: str = "documents") -> tuple[str, str]:
    """Filter-attribution waterfall over the Gopher rule cascade: every
    document is attributed to the FIRST rule that rejects it (the
    order a production gate short-circuits in), so the report answers
    "which filter is eating my corpus" — drop counts AND dropped
    character mass per rule, plus the surviving remainder — without
    double-counting docs that fail several rules. The observability
    twin of text_gopher_rules (which counts each rule independently).

    One integer-exact scan, zero joins: the cascade is a single CASE
    whose branches reuse the same token-fold expressions; the
    aggregate is map-side combinable and the output is |rules|+1 rows.
    """
    in_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    template = f"""
WITH d AS (
  SELECT n_chars,
         CASE
           WHEN n_words < 10 OR n_words > 5000 THEN '1_word_count'
           WHEN sum_word_len < 3 * n_words OR sum_word_len > 10 * n_words THEN '2_word_len'
           WHEN n_hash * 10 > n_words THEN '3_symbol_ratio'
           WHEN n_ellipsis * 10 > n_words THEN '4_ellipsis'
           WHEN n_stop * 10 < n_words THEN '5_stopword'
           ELSE '6_survived'
         END AS stage
  FROM (
    SELECT n_chars,
           {{nw}} AS n_words,
           {{sumlen}} AS sum_word_len,
           (length(text) - length(replace(text, '#', ''))) AS n_hash,
           (length(text) - length(replace(text, '...', ''))) / 3 AS n_ellipsis,
           {{nstop}} AS n_stop
    FROM (SELECT n_chars, text, {{toks}} AS toks FROM {view}) t0
  ) t1
)
SELECT stage, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM d
GROUP BY stage
"""
    return P.bi_sql(
        template,
        toks=(P.spark_tokens("text"), P.duck_tokens("text")),
        nw=("size(toks)", "len(toks)"),
        sumlen=(
            "aggregate(toks, 0L, (acc, x) -> acc + length(x))",
            "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))), (acc, x) -> acc + x)",
        ),
        nstop=(
            f"size(filter(toks, x -> x IN ({in_list})))",
            f"len(list_filter(toks, x -> x IN ({in_list})))",
        ),
    )


def _winnow_select(rel: str, w: int, with_n_grams: bool) -> str:
    """THE winnowing selection (single source of truth — round 3's bug
    was four diverging copies of this predicate): over a position-
    indexed gram-hash relation ``rel`` (doc_id, pos, gh), one MIN
    window per complete w-window, then the DISTINCT per-window minima
    as the fingerprint set (Schleimer et al. SIGMOD'03). Returns the
    wmin+fp CTE text (no leading WITH); fp is (doc_id[, n_grams], gh)."""
    n_sel = ", COUNT(*) OVER (PARTITION BY doc_id) AS n_grams" if with_n_grams else ""
    n_fp = "n_grams, " if with_n_grams else ""
    return f"""wmin AS (
  SELECT doc_id, pos, gh{n_sel},
         MIN(gh) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW
         ) AS win_min
  FROM {rel}
),
fp AS (
  SELECT DISTINCT doc_id, {n_fp}win_min AS gh
  FROM wmin WHERE pos >= {w}
)"""


_WINNOW_GRAM_CTE = """t AS (
  SELECT doc_id, {toks} AS toks FROM {view}
),
g AS (
  SELECT doc_id, {grams} AS grams FROM t
),
ph AS (
  SELECT doc_id, pos, {gram_hash} AS gh
  FROM (
    SELECT doc_id, grams, {explode_pos} FROM g WHERE {glen} > 0
  ) x
)"""


def _winnow_gram_frags(k: int, view: str) -> dict:
    return dict(
        toks=P.duck_tokens("text"),
        grams=P.duck_ngrams("toks", k),
        glen="len(grams)",
        explode_pos="unnest(range(1, len(grams) + 1)) AS pos",
        gram_hash=P.duck_poly_hash("grams[pos]"),
        view=view,
    )


_WINNOW_REPORT_TAIL = """
SELECT doc_id, MAX(n_grams) AS n_grams,
       COUNT(*) AS n_fingerprints,
       CAST(SUM(gh) % 1000000007 AS BIGINT) AS fp_checksum,
       MIN(gh) AS fp_min
FROM fp
GROUP BY doc_id
"""


def winnowing_sql(
    k: int = 4, w: int = 5, view: str = "documents"
) -> str:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram, slide a
    w-position window, select each window's minimum hash; the DISTINCT
    selected hashes are the document's fingerprints. Guarantees: every
    match of length >= w+k-1 shares a fingerprint (unlike random
    sampling), and fingerprint density is ~2/(w+1) of the gram count —
    position-robust local sampling that simhash/minhash don't give
    (minhash is global per doc, winnowing localizes matches).

    The report is per-document: gram count, fingerprint count, and an
    order-free integer checksum of the fingerprint set — enough to
    join docs on shared fingerprints downstream (the MOSS use) while
    keeping the registry row compact. Ties inside a window collapse
    under DISTINCT, so the MIN-only form (no rightmost tie rule) is
    deterministic in both engines.

    Scale shape: one explode to position-indexed gram hashes (narrow:
    doc_id, pos, hash), ONE window pass partitioned by doc_id with a
    ROWS frame (in-partition sort on pos — the shuffle is on doc_id,
    bounded by per-doc gram count), one distinct + per-doc aggregate
    reusing the same partitioning. Documents with fewer than ``w``
    grams emit no fingerprints (no full window exists) and are absent
    from the report — the caller treats them as exact-hash territory.
    """
    template = (
        "WITH " + _WINNOW_GRAM_CTE + ",\n"
        + _winnow_select("ph", w, with_n_grams=True)
        + _WINNOW_REPORT_TAIL
    )
    return P.duck_sql(template, **_winnow_gram_frags(k, view))


def materialize_gram_positions(spark, k: int = 4, view: str = "documents") -> str:
    """Staged position-indexed k-gram hash relation (doc_id, pos, gh)
    — the winnowing input. One Arrow pass: tokenize, join each k-token
    window, hash all grams of the batch with the vectorized exact
    poly-hash. Staged because the SQL form's element_at(grams, pos)
    after an index explode makes Catalyst rebuild the whole gram array
    once per POSITION (O(n²) per doc — measured 15.9 s vs 0.7 s at
    sf0.1)."""
    import pandas as pd
    import pyarrow as pa

    def kernel(batches):
        for b in batches:
            doc_ids, poss, grams = [], [], []
            for doc_id, txt in zip(
                b.column("doc_id").to_pylist(), b.column("text").to_pylist()
            ):
                gg = P.py_ngrams(P.py_tokens(txt), k)
                doc_ids.extend([doc_id] * len(gg))
                poss.extend(range(1, len(gg) + 1))
                grams.extend(gg)
            h = (
                P.pd_poly_hash_series(pd.Series(grams, dtype=object)).tolist()
                if grams
                else []
            )
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": pa.array(doc_ids, pa.int64()),
                    "pos": pa.array(poss, pa.int64()),
                    "gh": pa.array(h, pa.int64()),
                }
            )

    return P.stage_view(
        spark,
        lambda: P.fan_out(spark.table(view).select("doc_id", "text")).mapInArrow(
            kernel, "doc_id bigint, pos bigint, gh bigint"
        ),
        "winnow_grams",
        view,
        (k,),
    )


def _winnow_fp_staged(spark, k: int, w: int, view: str) -> str:
    """Memoized staged winnowing fingerprint relation
    (doc_id, n_grams, gh) — the MOSS fingerprint table itself (round
    12, guide §2.4): the pair report's tail references fp THREE times
    (the posting-list filter and both sides of the pair join), so the
    inlined form re-ran the w-window MIN + DISTINCT selection over the
    full gram-position relation three times per execution; the
    fingerprint report re-ran it once more. Both consumers now read
    one staged selection; first-touch cost is visible in the bench's
    pass1_queries."""
    rel = materialize_gram_positions(spark, k, view)
    return P.stage_view(
        spark,
        lambda: spark.sql(
            "WITH "
            + _winnow_select(rel, w, with_n_grams=True)
            + "\nSELECT doc_id, n_grams, gh FROM fp"
        ),
        "winnow_fp",
        view,
        params=(k, w),
    )


def winnowing_staged(spark, k: int = 4, w: int = 5, view: str = "documents"):
    """Execution path for :func:`winnowing_sql`'s semantics over the
    staged fingerprint relation; the aggregate tail is identical.
    Oracle stays the single-statement SQL."""
    fp = _winnow_fp_staged(spark, k, w, view)
    return spark.sql(
        "WITH fp AS (SELECT doc_id, n_grams, gh FROM "
        + fp
        + ")"
        + _WINNOW_REPORT_TAIL
    )


def _winnow_fp_cte(k: int, w: int, view: str) -> str:
    """The (doc_id, gh) fingerprint CTE chain of winnowing_sql, for
    composition into pair reports — same _winnow_select core. The
    DuckDB CTE text, ending with a relation named fp."""
    template = (
        _WINNOW_GRAM_CTE + ",\n" + _winnow_select("ph", w, with_n_grams=False)
    )
    return P.duck_sql(template, **_winnow_gram_frags(k, view))


_WINNOW_PAIR_TAIL = """
posting AS (
  SELECT gh FROM fp GROUP BY gh HAVING COUNT(*) BETWEEN 2 AND {cap}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fp a JOIN posting p ON p.gh = a.gh
  JOIN fp b ON b.gh = a.gh AND b.doc_id > a.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= {min_shared}
"""


def winnowing_pairs_sql(
    k: int = 4, w: int = 5, cap: int = 50, min_shared: int = 3, view: str = "documents"
) -> str:
    """Copy-pair detection over shared winnowing fingerprints — the
    MOSS report itself: documents sharing >= ``min_shared`` selected
    fingerprints, with the shared count. The posting-size cap drops
    fingerprints appearing in more than ``cap`` documents (boilerplate
    grams — the same bounded-posting-list discipline as the PPJoin
    prefix index and LSH bands: the join is fingerprint-keyed and
    never all-pairs, and no single fingerprint can contribute more
    than cap² pair terms)."""
    tail = _WINNOW_PAIR_TAIL.format(cap=cap, min_shared=min_shared)
    return "WITH " + _winnow_fp_cte(k, w, view) + ",\n" + tail


def winnowing_pairs_staged(
    spark, k: int = 4, w: int = 5, cap: int = 50, min_shared: int = 3,
    view: str = "documents",
):
    """Spark path over the staged fingerprint relation (shared with
    text_winnowing_fingerprints — see _winnow_fp_staged)."""
    fp = _winnow_fp_staged(spark, k, w, view)
    tail = _WINNOW_PAIR_TAIL.format(cap=cap, min_shared=min_shared)
    return spark.sql(
        "WITH fp AS (SELECT doc_id, gh FROM " + fp + "),\n" + tail
    )


def _rake_words_body(tokpos_rel: str) -> str:
    """The segmentation prefix (flags → seg window → stopword-free
    words) — split out so the Spark path can materialize the words
    relation ONCE per execution: the words CTE feeds phr, wstat and
    scored, and CTE inlining re-ran the doc-partitioned segmentation
    window once per reference (4 scans of the token-position relation
    in the before plan)."""
    in_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return f"""
flags AS (
  SELECT doc_id, pos, tok,
         CASE WHEN tok IN ({in_list}) THEN 1 ELSE 0 END AS is_stop
  FROM {tokpos_rel}
),
seg AS (
  SELECT doc_id, pos, tok, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS seg_id
  FROM flags
),
words AS (
  SELECT doc_id, seg_id, pos, tok FROM seg WHERE is_stop = 0
)"""


def _rake_body(tokpos_rel: str, topk: int, max_phrase: int) -> str:
    return _rake_words_body(tokpos_rel) + ",\n" + _rake_tail_body(topk, max_phrase)


def _rake_tail_body(topk: int, max_phrase: int) -> str:
    return f"""phr AS (
  SELECT doc_id, seg_id, COUNT(*) AS phrase_len FROM words
  GROUP BY doc_id, seg_id
),
wstat AS (
  SELECT w.tok,
         COUNT(*) AS freq,
         CAST(SUM(p.phrase_len) AS BIGINT) AS degree
  FROM words w JOIN phr p ON p.doc_id = w.doc_id AND p.seg_id = w.seg_id
  WHERE p.phrase_len <= {max_phrase}
  GROUP BY w.tok
),
scored AS (
  SELECT w.doc_id, w.seg_id,
         {{phrase_text}} AS phrase,
         CAST(SUM(s.degree * 1000000 {{idiv}} s.freq) AS BIGINT) AS score_ppm
  FROM words w JOIN wstat s ON s.tok = w.tok
  JOIN phr p ON p.doc_id = w.doc_id AND p.seg_id = w.seg_id
  WHERE p.phrase_len <= {max_phrase}
  GROUP BY w.doc_id, w.seg_id
),
agg AS (
  SELECT phrase, MAX(score_ppm) AS score_ppm, COUNT(*) AS n_occurrences
  FROM scored GROUP BY phrase
),
top AS (
  SELECT phrase, score_ppm, n_occurrences
  FROM agg ORDER BY score_ppm DESC, phrase ASC LIMIT {topk}
)
SELECT phrase, score_ppm, n_occurrences,
       ROW_NUMBER() OVER (ORDER BY score_ppm DESC, phrase ASC) AS rk
FROM top
"""


def rake_keywords_sql(
    topk: int = 50, max_phrase: int = 4, view: str = "documents"
) -> str:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (the gaps-and-islands window
    trick applied to text — segment id = running stopword count);
    each word scores degree/frequency over the whole corpus (degree =
    summed length of phrases containing it), a phrase scores the sum
    of its words' scores. All-integer (ppm division), deterministic
    phrase assembly by position order, (score DESC, phrase ASC) total
    order for the top-k.

    Scale shape: one window pass for segmentation (doc-partitioned),
    two vocabulary-bounded aggregates (word stats, phrase scores —
    both map-side combinable; the word-stats relation broadcasts
    back), and a TakeOrderedAndProject top-k (ORDER BY … LIMIT =
    per-partition heaps of k rows; the rk column is then a window
    over only the k survivors, never the vocabulary-grain relation —
    that form planned as Exchange SinglePartition). Phrases longer than
    ``max_phrase`` words are excluded from scoring entirely (standard
    RAKE practice — unbounded runs in stopword-poor text otherwise
    dominate degree mass).
    """
    # positions from a one-shot unnest (DuckDB evaluates the list
    # column once per row, so the index form is linear there)
    tokpos = (
        f"(SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, "
        f"toks[unnest(range(1, len(toks) + 1))] AS tok "
        f"FROM (SELECT doc_id, {P.duck_tokens('text')} AS toks FROM {view}) tt)"
    )
    return "WITH " + _rake_body(tokpos, topk, max_phrase).format(
        phrase_text="string_agg(w.tok, ' ' ORDER BY w.pos)", idiv="//"
    )


def rake_keywords_staged(
    spark, topk: int = 50, max_phrase: int = 4, view: str = "documents"
):
    # the stopword-free words relation is materialized ONCE per
    # execution (localCheckpoint): it feeds phr, wstat and scored, and
    # CTE inlining re-ran the doc-partitioned segmentation window once
    # per reference — 4 scans + 4 windows over the token-position
    # relation in the before plan, 1 after. Values unchanged (the
    # oracle keeps the identical single statement; _rake_body is
    # byte-identical to the pre-split text).
    rel = materialize_tokens(spark, view)
    # memoized staged relation (round-12, ADVICE r11): same leak fix as
    # tfidf_top_terms_staged — the per-call localCheckpoint + id()-named
    # view pinned one checkpoint + one catalog entry per execution and
    # bypassed the STAGING_DIR_CONF backend. The stopword-segmented
    # words relation is a pure function of the corpus snapshot, so the
    # content-addressed memo serves every execution in the session;
    # first-touch cost is visible in the bench's pass1_queries block.
    wname = P.stage_view(
        spark,
        lambda: spark.sql(
            "WITH "
            + _rake_words_body(rel)
            + "\nSELECT doc_id, seg_id, pos, tok FROM words"
        ),
        "rake_words",
        view,
    )
    tail = (
        "WITH words AS (SELECT * FROM " + wname + "),\n"
        + _rake_tail_body(topk, max_phrase)
    ).format(
        phrase_text=(
            "array_join(transform(array_sort(collect_list(struct(w.pos, w.tok))), "
            "s -> s.tok), ' ')"
        ),
        idiv="DIV",
    )
    return spark.sql(tail)


# ------------------------------------------------------- BPE fertility
_FERTILITY_LT = """lt AS (
  SELECT d.lang, COUNT(*) AS n_docs,
         CAST(SUM({words}) AS BIGINT) AS n_words,
         CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
         CAST(SUM(e.n_tokens_bpe) AS BIGINT) AS bpe_tokens
  FROM {view} d JOIN {enc} e ON e.doc_id = d.doc_id
  GROUP BY d.lang
)"""

_FERTILITY_SELECT = """
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, n_words, n_chars, bpe_tokens,
       CAST(bpe_tokens * 1000 {idiv} GREATEST(n_words, 1) AS BIGINT)
         AS fertility_permille,
       CAST(bpe_tokens * 100000 {idiv} GREATEST(n_chars, 1) AS BIGINT)
         AS tok_per_100k_chars
FROM lt"""


def bpe_fertility_staged(spark, rounds: int = 3, view: str = "documents"):
    """Tokenizer FERTILITY report per language — the standard
    tokenizer-efficiency metric a multilingual pipeline tracks before
    committing to a tokenizer (tokens/word; high fertility on a
    language means its text costs disproportionate sequence length).
    Computed from the TRAINED merges via :func:`bpe_encode_staged`
    (true counts, not the 4-chars/token heuristic —
    bpe_token_budget_staged reports that drift separately):
    fertility_permille = BPE tokens per 1000 words, tok_per_100k_chars
    = BPE tokens per 100k characters (byte-level cost proxy). Integer
    micro-unit arithmetic throughout — cross-engine exact; operands
    non-negative so trunc-div == floor-div.

    Scale shape: one |docs|-row join of the encode relation against
    the doc table, one |langs|-row hash agg. The encode relation
    itself is vocabulary-local (see bpe_encode_staged) — nothing here
    re-touches raw text except the word count, which rides the same
    scan that reads n_chars."""
    return spark.sql(
        "WITH "
        + _FERTILITY_LT.format(
            words=f"size({P.spark_tokens('d.text')})", view=view, enc="{enc}"
        )
        + _FERTILITY_SELECT.format(idiv="DIV"),
        enc=bpe_encode_staged(spark, rounds, view),
    )


def oracle_bpe_fertility(rounds: int = 3, view: str = "documents") -> str:
    ctes = _bpe_merge_ctes(rounds, view)
    ctes.append(
        f"""v AS MATERIALIZED (
  SELECT tok, CAST(len(str_split(seq, ' ')) AS BIGINT) AS n_sym FROM w{rounds}
)"""
    )
    ctes.append(
        f"""dt AS (
  SELECT doc_id, unnest({P.duck_tokens('text')}) AS tok FROM {view}
)"""
    )
    ctes.append(
        f"""enc AS MATERIALIZED (
  SELECT d.doc_id, CAST(coalesce(t.n, 0) AS BIGINT) AS n_tokens_bpe
  FROM {view} d LEFT JOIN (
    SELECT dt.doc_id, SUM(v.n_sym) AS n
    FROM dt JOIN v ON v.tok = dt.tok GROUP BY dt.doc_id
  ) t ON t.doc_id = d.doc_id
)"""
    )
    ctes.append(
        _FERTILITY_LT.format(
            words=f"len({P.duck_tokens('d.text')})", view=view, enc="enc"
        )
    )
    return "WITH " + ",\n".join(ctes) + _FERTILITY_SELECT.format(idiv="//")


# ------------------------------------------------- held-out n-gram coverage
def ngram_coverage_sql(n: int = 2, view: str = "documents") -> tuple[str, str]:
    """Held-out n-gram COVERAGE per language — the train/validation
    vocabulary-overlap check a pretraining pipeline runs before
    trusting a validation split: what fraction of the held-out split's
    distinct n-grams appear in the training split at all (low coverage
    → the val set measures OOV noise, not model quality; coverage ~1
    at the doc level would instead signal leakage, which
    corpus_split_leakage checks from the other direction). Split rule
    is the same deterministic doc_id % 10 assignment the corpus
    split/leakage queries use (9:1).

    Output per language: distinct held-out n-grams, how many also
    occur in train, coverage_ppm (integer-exact).

    Scale shape: ONE pass over the corpus (tokenize once in an inner
    projection, explode n-grams WITH multiplicity collapsed by the
    group), one hash agg on (lang, gram) computing per-split presence
    flags map-side — the gram relation is never joined against itself
    — then a |langs|-row re-aggregation. Linear in token mass; the
    only corpus-wide shuffle is the (lang, gram) agg."""
    template = f"""
WITH b AS (
  SELECT doc_id, lang, {{explode}} AS g
  FROM (SELECT doc_id, lang, {{toks}} AS toks FROM {view}) t
),
pres AS (
  SELECT lang, g,
         MAX(CASE WHEN doc_id % 10 < 9 THEN 1 ELSE 0 END) AS in_train,
         MAX(CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 0 END) AS in_val
  FROM b GROUP BY lang, g
)
SELECT lang,
       CAST(SUM(in_val) AS BIGINT) AS val_grams,
       CAST(SUM(in_val * in_train) AS BIGINT) AS covered_grams,
       CAST(SUM(in_val * in_train) * 1000000
            {{idiv}} GREATEST(SUM(in_val), 1) AS BIGINT) AS coverage_ppm
FROM pres GROUP BY lang
"""
    return P.bi_sql(
        template,
        toks=(P.spark_tokens("text"), P.duck_tokens("text")),
        explode=(
            f"explode({P.spark_ngrams('toks', n)})",
            f"unnest({P.duck_ngrams('toks', n)})",
        ),
        idiv=("DIV", "//"),
    )
