"""Text analysis operators (SURVEY.md §2-C Q30; LLM-pipeline core).

Language-ID (marker-word heuristic), quality scoring (length / stopword /
token-shape ratios), token counting (whitespace + BPE-ish estimate), and
document fingerprinting (md5 content hash) — all pure JVM-side column
expressions (no Python in the hot path), each with a DuckDB oracle built
from the same portable primitives.

Substring occurrence counts use the replace-length trick
(``(len(x) - len(replace(x, m, ''))) / len(m)``) which is exact and
identical in both engines — no regex-dialect skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.tables import load_table

# marker words per language for the n-gram/stopword language heuristic;
# padded with spaces so matches are whole-word.
LANG_MARKERS = {
    "en": [" the ", " a ", " and "],
    "es": [" el ", " la ", " de "],
    "de": [" der ", " die ", " und "],
    "fr": [" le ", " la ", " et "],
    "zh": [" 的 ", " 是 ", " 了 "],
}

STOPWORDS = [" the ", " a ", " and ", " of ", " to "]


def _count_sql(col: str, marker: str) -> str:
    """Portable occurrence count of ``marker`` in ``col``."""
    m = marker.replace("'", "''")
    return f"(length({col}) - length(replace({col}, '{m}', ''))) / {len(marker)}"


# ---------------------------------------------------------------------------
# Q30 — token & length statistics per document.
# ---------------------------------------------------------------------------


@register(
    "q30_text_stats",
    oracle="""
    SELECT doc_id,
           source,
           length(text) AS n_chars_measured,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_distinct_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
           CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
               AS chars_per_token
    FROM documents
    """,
    families=("text", "multibyte"),
)
def q30_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts + a BPE-ish (~4 chars/token) estimate."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        "source",
        F.length("text").alias("n_chars_measured"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_bpe_tokens"),
        (F.length("text").cast("double") / F.size(toks)).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Q30b — language identification by marker-word scoring.
# ---------------------------------------------------------------------------


def _lang_id_sql() -> str:
    scores = []
    for lang, markers in LANG_MARKERS.items():
        expr = " + ".join(_count_sql("p", m) for m in markers)
        scores.append(f"CAST({expr} AS BIGINT) AS score_{lang}")
    score_cols = ", ".join(scores)
    # deterministic argmax: highest score wins, ties broken alphabetically
    langs = sorted(LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lang} = {greatest} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH p AS (SELECT doc_id, lang, (' ' || text || ' ') AS p FROM documents),
    s AS (SELECT doc_id, lang, {score_cols} FROM p)
    SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang,
           score_en, score_es, score_de, score_fr, score_zh
    FROM s
    """


@register("q30b_lang_id", oracle=_lang_id_sql(), families=("text", "multibyte"))
def q30b_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (deterministic argmax, alphabetic ties)."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "p", F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    )
    for lang, markers in LANG_MARKERS.items():
        expr = " + ".join(_count_sql("p", m) for m in markers)
        d = d.withColumn(f"score_{lang}", F.expr(f"CAST({expr} AS BIGINT)"))
    langs = sorted(LANG_MARKERS)
    greatest = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == greatest, lang).otherwise(pred)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        *[F.col(f"score_{lang}") for lang in langs],
    )


# ---------------------------------------------------------------------------
# Q30c — corpus token frequency (top tokens).
# ---------------------------------------------------------------------------


@register(
    "q30c_token_freq",
    oracle="""
    SELECT t.tok AS token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM documents, unnest(string_split(text, ' ')) AS t(tok)
    GROUP BY t.tok
    ORDER BY n DESC, token
    LIMIT 20
    """,
    families=("text", "multibyte", "bench"),
)
def q30c_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens (explode → count, map-side combined)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q30d — content fingerprint + duplicate grouping by fingerprint.
# ---------------------------------------------------------------------------


@register(
    "q30d_fingerprint",
    oracle="""
    SELECT md5(text) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS n_docs
    FROM documents
    GROUP BY md5(text)
    """,
    families=("text", "multibyte"),
)
def q30d_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 content fingerprint (the exact-dedup key at corpus scale)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("fingerprint")).agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Q30e — quality scoring (length / stopword-ratio / token-shape features).
# ---------------------------------------------------------------------------


def _quality_sql() -> str:
    stop_expr = " + ".join(_count_sql("p", m) for m in STOPWORDS)
    return f"""
    WITH p AS (
        SELECT doc_id, (' ' || text || ' ') AS p,
               length(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_toks
        FROM documents
    )
    SELECT doc_id,
           CAST({stop_expr} AS BIGINT) AS n_stopwords,
           CAST({stop_expr} AS DOUBLE) / n_toks AS stopword_ratio,
           CAST(n_chars_m AS DOUBLE) / n_toks AS mean_token_len,
           (CASE WHEN n_chars_m BETWEEN 200 AND 400 THEN 1.0 ELSE 0.5 END) *
               (CASE WHEN CAST({stop_expr} AS DOUBLE) / n_toks BETWEEN 0.01 AND 0.5
                     THEN 1.0 ELSE 0.5 END) AS quality_score
    FROM p
    """


@register("q30e_quality", oracle=_quality_sql(), families=("text", "multibyte"))
def q30e_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score from portable ratio features."""
    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("p", F.concat(F.lit(" "), F.col("text"), F.lit(" ")))
        .withColumn("n_chars_m", F.length("text"))
        .withColumn("n_toks", F.size(F.split("text", " ")))
    )
    stop_expr = " + ".join(_count_sql("p", m) for m in STOPWORDS)
    d = d.withColumn("n_stopwords", F.expr(f"CAST({stop_expr} AS BIGINT)"))
    d = d.withColumn(
        "stopword_ratio", F.col("n_stopwords").cast("double") / F.col("n_toks")
    )
    return d.select(
        "doc_id",
        "n_stopwords",
        "stopword_ratio",
        (F.col("n_chars_m").cast("double") / F.col("n_toks")).alias("mean_token_len"),
        (
            F.when(F.col("n_chars_m").between(200, 400), 1.0).otherwise(0.5)
            * F.when(F.col("stopword_ratio").between(0.01, 0.5), 1.0).otherwise(0.5)
        ).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Q30f — regex tokenization: a BPE-style pre-tokenizer pattern (letter runs,
# digit runs, single punctuation) counted per document. The real token-count
# op of a training pipeline (q30_text_stats' est_bpe_tokens is the cheap
# chars/4 heuristic; this is the regex path).
# ---------------------------------------------------------------------------

# identical regex semantics in Java (Spark) and RE2 (DuckDB): character
# classes, alternation, + — no lookaround, no \w ambiguity
_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "q30f_regex_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT)
               AS n_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{_TOKEN_RE}')))
               AS BIGINT) AS n_distinct_tokens
    FROM documents
    """,
    families=("text", "multibyte"),
)
def q30f_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts under a BPE-style pre-tokenizer regex —
    whole-stage-codegen'd (regexp_extract_all is JVM-side, no Python)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


# ---------------------------------------------------------------------------
# Q49 — BM25 keyword ranking over documents (search-style retrieval, the
# relevance twin of q47_tfidf_terms). Uses the Lucene-style *rational* idf
# (N - df + 0.5)/(df + 0.5) without the log so the score is a fixed-order
# IEEE expression both engines evaluate bit-identically (precedent:
# q47's rational idf).
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "table", "hash")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP = 20


def _token_eq(term: str):
    # single-arg lambda on purpose: a 2-arg callable would be read by
    # F.filter as (value, index)
    return lambda x: x == F.lit(term)


def _bm25_term_sql(tf: str) -> str:
    """One term's score; identical text in both dialects ⇒ identical IEEE
    ops. (1+k1) and (1-b) are interpolated as pre-computed literals so
    neither engine's constant folding can re-associate differently."""
    df = tf.replace("tf", "df")
    k1_plus_1 = _BM25_K1 + 1.0
    one_minus_b = 1.0 - _BM25_B
    return (
        f"(((CAST(n_docs AS DOUBLE) - {df}) + 0.5) / (CAST({df} AS DOUBLE) + 0.5))"
        f" * ((CAST({tf} AS DOUBLE) * {k1_plus_1})"
        f" / (CAST({tf} AS DOUBLE)"
        f" + {_BM25_K1} * ({one_minus_b} + {_BM25_B} * (CAST(dl AS DOUBLE) / avgdl))))"
    )


_BM25_SCORE = " + ".join(_bm25_term_sql(f"tf{i}") for i in range(len(BM25_TERMS)))


@register(
    "q49_bm25",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
               {", ".join(
                   f"CAST(len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS BIGINT) AS tf{i}"
                   for i, t in enumerate(BM25_TERMS)
               )}
        FROM documents
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
               {", ".join(
                   f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
                   for i in range(len(BM25_TERMS))
               )}
        FROM t
    ),
    s AS (
        SELECT doc_id, dl, {_BM25_SCORE} AS score
        FROM t, g
        WHERE {" + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))} > 0
    )
    SELECT doc_id, dl, score, rn FROM (
        SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM s
    ) WHERE rn <= {_BM25_TOP}
    """,
    families=("text", "multibyte", "bench"),
)
def q49_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{_BM25_TOP} for a fixed disjunctive (any-term) keyword
    query.

    Plan shape for 100 TB: one narrow codegen pass computes (dl, tf_i) per
    doc; corpus stats (N, avgdl, df_i) are ONE tiny single-row aggregate
    broadcast back (no second scan of text, no shuffle of documents); the
    global top-k is TakeOrderedAndProject (per-partition partial top-k,
    k rows to the driver — never a full sort). Capability row for the
    reference's consumers doing retrieval over state-built corpora.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    t = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter(F.col("toks"), _token_eq(t))).cast("long").alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    g = t.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    any_tf = sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS)))
    s = (
        t.where(any_tf > 0)
        .crossJoin(F.broadcast(g))
        .withColumn("score", F.expr(_BM25_SCORE))
        .select("doc_id", "dl", "score")
    )
    top = s.orderBy(F.col("score").desc(), "doc_id").limit(_BM25_TOP)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rn", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Q51 — inverted-index build: token → ordered posting list + df + total tf.
# The classic search/retrieval index-construction shuffle (and the
# materialized form of q49's df statistics).
# ---------------------------------------------------------------------------


@register(
    "q51_inverted_index",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    agg AS (
        SELECT token, CAST(count(*) AS BIGINT) AS total_tf
        FROM tok GROUP BY token
    ),
    pst AS (
        SELECT token,
               CAST(count(*) AS BIGINT) AS df,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
        FROM (SELECT DISTINCT token, doc_id FROM tok)
        GROUP BY token
    )
    SELECT agg.token, agg.total_tf, pst.df, pst.postings
    FROM agg JOIN pst USING (token)
    """,
    families=("text", "multibyte", "bench"),
)
def q51_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists per token (sorted doc_ids), document frequency, and
    total term frequency — one explode + one shuffle on token.

    The posting list is emitted as a comma-joined string of sorted doc_ids
    (not an array column): the driver's value-hash canonicalizer sorts
    pandas frames, and list cells are unhashable there — a flat string is
    the portable, hash-stable representation (same payload bytes).

    Scale notes: total_tf gets a map-side partial aggregate; the posting
    list is the irreducible payload and is bounded per token by df — at
    100 TB you'd additionally hash-bucket tokens across output files
    (q48_range_layout's clustering) and cap stop-word postings; the
    explode itself is narrow (no pre-shuffle row amplification cost beyond
    the token rows themselves).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return tok.groupBy("token").agg(
        F.count("*").alias("total_tf"),
        F.size(F.collect_set("doc_id")).cast("long").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# q86 — feature-hash embedding (the "hashing trick"): a REAL distributed
# text-vectorization pass — every token occurrence votes ±1 into one of D
# hash buckets, per-doc vectors are L2-normalized. This is the embedding
# generator you can run on 100 TB with no model server: the output feeds
# q29's similarity stack directly. Long-form (doc_id, dim, weight) output
# keeps the result hash-checkable (no array columns).
# ---------------------------------------------------------------------------

_FH_DIM = 16


@register(
    "q86_feature_hash_embed",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t.tok FROM documents,
             unnest(string_split(text, ' ')) AS t(tok)
    ),
    hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 1))::BIGINT % {_FH_DIM}
                   AS INTEGER) AS dim,
               CASE WHEN ('0x' || substr(md5(tok), 2, 1))::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM tok
    ),
    vec AS (
        SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS raw
        FROM hashed GROUP BY doc_id, dim
    ),
    nrm AS (
        SELECT doc_id, sqrt(CAST(sum(raw * raw) AS DOUBLE)) AS l2
        FROM vec GROUP BY doc_id
    )
    SELECT v.doc_id, v.dim, v.raw,
           CAST(v.raw AS DOUBLE) / n.l2 AS weight
    FROM vec v JOIN nrm n ON n.doc_id = v.doc_id
    WHERE n.l2 > 0
    """,
    families=("bench",),
)
def q86_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature-hash embedding: token → (md5-nibble bucket of
    {_FH_DIM}, ±1 sign), summed per (doc, bucket), L2-normalized per doc.

    Scale shape: explode + ONE map-side-combined hash agg builds the raw
    vectors (integer sums — shuffle-order-independent, hence the exact
    oracle); the norm is a second agg on a key the rows already carry and
    joins back co-partitioned on doc_id, so the whole featurizer is two
    combinable aggregates — no window, no Python, no model inference.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    h = F.md5(F.col("tok"))
    hashed = toks.select(
        "doc_id",
        (F.conv(F.substring(h, 1, 1), 16, 10).cast("long") % _FH_DIM)
        .cast("int")
        .alias("dim"),
        F.when(
            F.conv(F.substring(h, 2, 1), 16, 10).cast("long") % 2 == 0, 1
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    vec = hashed.groupBy("doc_id", "dim").agg(
        F.sum("sgn").cast("long").alias("raw")
    )
    nrm = vec.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("raw") * F.col("raw")).cast("double")).alias("l2")
    )
    return (
        vec.join(nrm, "doc_id")
        .where(F.col("l2") > 0)
        .select(
            "doc_id",
            "dim",
            "raw",
            (F.col("raw").cast("double") / F.col("l2")).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# q87 — rare-n-gram ratio: the "is this text like anything else in the
# corpus?" quality filter. Word trigrams unique to a single document mark
# novel (or garbled/OCR-damaged) content; near-duplicate copies share
# almost all their trigrams. Pipelines threshold on this ratio both ways:
# too low → boilerplate/duplicate, too high on a clean corpus → noise.
# ---------------------------------------------------------------------------


@register(
    "q87_rare_ngram_ratio",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    tri AS (
        SELECT doc_id, l[i.i] || ' ' || l[i.i+1] || ' ' || l[i.i+2] AS tg
        FROM tok, unnest(generate_series(1, len(l) - 2)) AS i(i)
        WHERE len(l) >= 3
    ),
    df AS (SELECT tg, count(DISTINCT doc_id) AS ndocs FROM tri GROUP BY tg)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(count(*) FILTER (WHERE df.ndocs = 1) AS BIGINT) AS n_rare,
           CAST(count(*) FILTER (WHERE df.ndocs = 1) AS DOUBLE) / count(*)
               AS rare_ratio
    FROM tri t JOIN df USING (tg)
    GROUP BY t.doc_id
    """,
    families=("text", "multibyte", "bench"),
)
def q87_rare_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document share of word trigrams that occur in NO other document.

    Scale shape: trigram expansion is a narrow row-expanding map; the
    document-frequency table is one count-distinct hash agg keyed on the
    trigram; the flagging join is co-keyed on the same column the rows
    carry, and the per-doc rollup partial-aggregates map-side. Same
    linear skeleton as the MinHash pipeline (explode → agg → join →
    agg), no pairwise work anywhere.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    tri = (
        d.where(F.size("l") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 2), i -> "
                    "concat(element_at(l, i), ' ', element_at(l, i + 1), "
                    "' ', element_at(l, i + 2)))"
                )
            ).alias("tg"),
        )
    )
    df_ = tri.groupBy("tg").agg(F.count_distinct("doc_id").alias("ndocs"))
    flagged = tri.join(df_, "tg").withColumn("rare", F.col("ndocs") == 1)
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_ngrams"),
        F.sum(F.when(F.col("rare"), 1).otherwise(0)).cast("long").alias("n_rare"),
        (
            F.sum(F.when(F.col("rare"), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("rare_ratio"),
    )


# ---------------------------------------------------------------------------
# q119 — BPE merge candidates: the first iteration of byte-pair-encoding
# tokenizer training, the corpus-scale step that actually needs a cluster
# (every later iteration works on the shrinking merged vocabulary). Score
# of a character pair = Σ over distinct words count(word) × occurrences
# of the pair in the word; the top-scoring pair is the merge a BPE
# trainer would apply first.
# ---------------------------------------------------------------------------

_BPE_TOP = 10


def _register_q119() -> None:
    @register(
        "q119_bpe_merge_candidates",
        oracle=f"""
        WITH tok AS (
            SELECT t.t AS w
            FROM documents, unnest(string_split(text, ' ')) AS t(t)
            WHERE length(t.t) >= 2
        ),
        wc AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        pairs AS (
            SELECT p.p AS pair, wc.c
            FROM wc, unnest(list_transform(
                generate_series(1, length(w) - 1), i -> substr(w, i, 2)
            )) AS p(p)
        ),
        scored AS (
            SELECT pair, CAST(sum(c) AS BIGINT) AS score
            FROM pairs GROUP BY pair
        )
        SELECT pair, score, rn FROM (
            SELECT *, row_number() OVER (ORDER BY score DESC, pair) AS rn
            FROM scored
        ) WHERE rn <= {_BPE_TOP}
        """,
        families=("text", "multibyte", "bench"),
    )
    def q119_bpe_merge_candidates(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Top-{_BPE_TOP} character-pair merge candidates (first BPE
        training iteration) over the whole corpus.

        Scale shape: word counting is one combinable groupBy on the
        tokenized corpus; pair explosion then runs over the DISTINCT
        VOCABULARY (≪ corpus — this is why BPE training is feasible at
        100 TB: the corpus collapses to weighted words first), and the
        pair score is a second combinable groupBy over ~|vocab|·|word|
        rows. Top-k is TakeOrdered — no global sort. Words shorter than
        2 chars carry no pairs and are filtered at the scan (also dodges
        Spark's descending sequence(1,0) vs DuckDB's empty
        generate_series(1,0) disagreement).
        """
        d = load_table(spark, sf_dir, "documents")
        d = d.repartition(
            max(spark.sparkContext.defaultParallelism, 8), "doc_id"
        )
        tok = d.select(
            F.explode(F.split("text", " ")).alias("w")
        ).where(F.length("w") >= 2)
        wc = tok.groupBy("w").agg(F.count("*").alias("c"))
        pairs = wc.select(
            "c",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substr(w, i, 2))"
                )
            ).alias("pair"),
        )
        scored = pairs.groupBy("pair").agg(F.sum("c").alias("score"))
        w_rank = Window.orderBy(F.col("score").desc(), "pair")
        return (
            scored.orderBy(F.col("score").desc(), "pair")
            .limit(_BPE_TOP)
            .withColumn("rn", F.row_number().over(w_rank))
        )


_register_q119()


# ---------------------------------------------------------------------------
# q123 — text normalization pass: the cleanup map every corpus runs before
# tokenization (lowercase, strip non-alphanumerics, collapse whitespace),
# with before/after accounting per language. Pure JVM regexp_replace — a
# narrow codegen'd map, no Python, no shuffle until the tiny rollup.
# ---------------------------------------------------------------------------


@register(
    "q123_text_normalize",
    oracle="""
    WITH cleaned AS (
        SELECT lang, n_chars,
               trim(regexp_replace(
                   regexp_replace(lower(regexp_replace(
                       text, '[^A-Za-z0-9 ]', ' ', 'g')),
                   '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g')) AS ctext
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS raw_chars,
           CAST(sum(len(ctext)) AS BIGINT) AS clean_chars,
           CAST(sum(len(string_split(ctext, ' '))) AS BIGINT) AS clean_tokens
    FROM cleaned
    GROUP BY lang
    """,
    families=("text", "multibyte", "bench"),
)
def q123_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize text (lower → strip non-[a-z0-9 ] → collapse runs of
    spaces → trim) and roll up char/token counts per language.

    Both engines apply the same regexes in the same order — ASCII strip
    first, THEN lower — so Unicode full-vs-simple case-mapping
    differences (Java's İ → i+U+0307 vs utf8proc's İ → i) can never
    reach the case map; the patterns use only literal classes
    ('[^A-Za-z0-9 ]', ' +') so Java and RE2 semantics agree. The map is whole-stage-codegen'd (no UDF);
    at 100 TB this is the canonical scan-bound pass — bytes in, bytes
    out, zero shuffle until the per-lang rollup of a handful of rows.
    """
    d = load_table(spark, sf_dir, "documents")
    # strip to ASCII BEFORE lowercasing: Java's lower() applies full
    # Unicode case mapping (Turkish İ → 'i' + combining dot, TWO code
    # points) while DuckDB's applies simple per-codepoint mapping (İ →
    # 'i'), so lowering first diverges on such chars — found by the
    # round-8 multibyte fuzz family. Pre-stripping makes lower() operate
    # on pure ASCII, where both engines agree; on ASCII corpora the
    # reordering is a no-op. The inner [^a-z0-9 ] pass is kept for
    # oracle symmetry (it matches nothing after the ASCII strip+lower).
    ctext = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.regexp_replace(F.col("text"), "[^A-Za-z0-9 ]", " ")),
                "[^a-z0-9 ]",
                " ",
            ),
            " +",
            " ",
        )
    )
    cleaned = d.select("lang", "n_chars", ctext.alias("ctext"))
    return cleaned.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("raw_chars"),
        F.sum(F.length("ctext")).alias("clean_chars"),
        F.sum(F.size(F.split("ctext", " "))).alias("clean_tokens"),
    )


# ---------------------------------------------------------------------------
# q154 — corpus lexical diversity via the Simpson collision index.
#
# Diversity/repetitiveness of a corpus slice without a single logarithm:
# the probability that two tokens drawn without replacement from the
# slice are the SAME type is sum(c_t*(c_t-1)) / (N*(N-1)) — a pure
# rational in the token counts, so both engines compute it exactly
# (numerator and denominator are emitted as BIGINTs too, making the hash
# integer-robust). Entropy-based diversity needs log() — banned for
# cross-engine float determinism; Simpson carries the same "degenerate
# slice" signal (boilerplate-heavy sources score high collision).
#
# Scale: one explode + two co-partitioned groupBys — the q41 plan shape —
# except grouped at (lang, source) slice level, so the second aggregate's
# cardinality is the slice count, not the doc count. All partial-sum
# combinable; nothing driver-side.
# ---------------------------------------------------------------------------


@register(
    "q154_corpus_simpson_diversity",
    oracle="""
    WITH tok AS (
        SELECT lang, source, t.tok
        FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        WHERE t.tok <> ''
    ),
    tf AS (
        SELECT lang, source, tok, count(*) AS c
        FROM tok GROUP BY 1, 2, 3
    )
    SELECT lang, source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c * (c - 1)) AS BIGINT) AS collide_pairs,
           CAST(sum(c) * (sum(c) - 1) AS BIGINT) AS total_pairs,
           CAST(sum(c * (c - 1)) AS DOUBLE)
               / NULLIF(CAST(sum(c) * (sum(c) - 1) AS DOUBLE), 0) AS simpson
    FROM tf GROUP BY lang, source
    """,
    families=("text", "multibyte", "bench"),
)
def q154_corpus_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson collision probability per (lang, source) corpus slice —
    the log-free lexical-diversity gate a pretraining mix runs per slice.

    The single float is one division of two exact BIGINTs (identical IEEE
    op both engines); everything upstream is integer counting. At 100 TB
    the counts outgrow BIGINT only past ~3×10^9 tokens *per slice
    squared* — the numerator/denominator would move to DECIMAL(38,0)
    (same plan); the collision ratio itself is scale-free.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "lang", "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    tf = tok.groupBy("lang", "source", "tok").agg(F.count("*").alias("c"))
    return tf.groupBy("lang", "source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("collide_pairs"),
        (F.sum("c") * (F.sum("c") - 1)).cast("long").alias("total_pairs"),
        # a one-token slice has zero drawable pairs: NULL on both engines
        # (ANSI Spark raises DIVIDE_BY_ZERO; DuckDB NULLIFs) — found by
        # the seed-varied fuzz, unreachable on the stock corpora
        F.when(
            (F.sum("c") * (F.sum("c") - 1)) > 0,
            F.sum(F.col("c") * (F.col("c") - 1)).cast("double")
            / (F.sum("c") * (F.sum("c") - 1)).cast("double"),
        ).alias("simpson"),
    )


# ---------------------------------------------------------------------------
# q164 — Good-Turing count-of-counts: the frequency-of-frequencies table
# N_r (how many token TYPES occur exactly r times) plus the Good-Turing
# re-estimated count r* = (r+1)·N_{r+1}/N_r — the input artifact for
# every classical smoothed LM (Katz backoff, simple Good-Turing) and the
# standard diagnostic for corpus duplication (a bloated N_r tail at high
# r is the signature of boilerplate). All counts are integers; r* is one
# division of two exact BIGINTs, so the table is engine-exact.
#
# Scale shape: token-count (one explode + shuffle on token), then the
# count-of-counts aggregate collapses the type table to at most
# max-frequency rows — the second shuffle carries a vanishing fraction
# of the first. The lead() window runs on that tiny table.
# ---------------------------------------------------------------------------


@register(
    "q164_good_turing_counts",
    oracle="""
    WITH tok AS (
        SELECT lang, t.tok
        FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        WHERE t.tok <> ''
    ),
    tf AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    coc AS (
        SELECT lang, CAST(c AS BIGINT) AS r,
               CAST(count(*) AS BIGINT) AS n_types
        FROM tf GROUP BY 1, 2
    )
    SELECT lang, r, n_types,
           CAST(r * n_types AS BIGINT) AS mass,
           CAST((r + 1) * lead(n_types) OVER w AS DOUBLE)
               / CAST(n_types AS DOUBLE) AS gt_star
    FROM coc
    WINDOW w AS (PARTITION BY lang ORDER BY r)
    """,
    families=("text", "multibyte", "bench"),
)
def q164_good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language N_r table with the Good-Turing adjusted count r*.

    Note the window subtlety: ``lead`` must see the NEXT r in sorted
    order; gaps in r (no type occurs exactly r+1 times) make the naive
    (r+1)·N_{r+1} formula use the next PRESENT r — both engines apply
    the same lead-over-sorted-r rule, so the artifact is identical. The
    r* estimate is standard Simple-Good-Turing input; smoothing choices
    live downstream.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    tf = tok.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    coc = tf.groupBy("lang", F.col("c").alias("r")).agg(
        F.count("*").alias("n_types")
    )
    w = Window.partitionBy("lang").orderBy("r")
    return coc.select(
        "lang",
        "r",
        "n_types",
        (F.col("r") * F.col("n_types")).alias("mass"),
        (
            ((F.col("r") + 1) * F.lead("n_types").over(w)).cast("double")
            / F.col("n_types").cast("double")
        ).alias("gt_star"),
    )


# ---------------------------------------------------------------------------
# q171 — collocation mining by LIFT: which adjacent word pairs co-occur
# far more than independence predicts. lift(x,y) = N·c_xy / (c_x·c_y) —
# the log-free core of PMI (PMI = log lift), so the ranking is identical
# while staying exact rational arithmetic (integer numerator/denominator,
# one final division). This is the phrase-mining pass a tokenizer/vocab
# pipeline runs to promote multi-word units (q119's BPE merge candidates
# are the character-level analog; this is the word level).
#
# Scale shape: bigram build is one narrow lead() within doc; unigram and
# bigram counts are map-side-combined aggregates; the two count joins are
# key-partitioned on the word; top-k is TakeOrdered (never a global
# sort). The corpus-size scalar N broadcasts as a one-row frame.
# ---------------------------------------------------------------------------

_COLLOC_MIN_SUP = 3
_COLLOC_TOP = 30


@register(
    "q171_collocation_lift",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    uni AS (
        SELECT t.w, CAST(count(*) AS BIGINT) AS c
        FROM tok, unnest(l) AS t(w) WHERE t.w <> '' GROUP BY t.w
    ),
    bg0 AS (
        SELECT split_part(t.bg, ' ', 1) AS w1,
               split_part(t.bg, ' ', 2) AS w2
        FROM (SELECT l FROM tok WHERE len(l) >= 2),
             unnest(list_transform(
                 generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i+1]
             )) AS t(bg)
    ),
    bg AS (SELECT w1, w2 FROM bg0 WHERE w1 <> '' AND w2 <> ''),
    bgc AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
        FROM bg GROUP BY w1, w2
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bg)
    SELECT b.w1, b.w2, b.c_xy,
           CAST(n.total * b.c_xy AS BIGINT) AS lift_num,
           CAST(u1.c * u2.c AS BIGINT) AS lift_den,
           CAST(n.total * b.c_xy AS DOUBLE)
               / CAST(u1.c * u2.c AS DOUBLE) AS lift
    FROM bgc b
    JOIN uni u1 ON u1.w = b.w1
    JOIN uni u2 ON u2.w = b.w2
    CROSS JOIN n
    WHERE b.c_xy >= {_COLLOC_MIN_SUP}
    ORDER BY lift DESC, b.w1, b.w2
    LIMIT {_COLLOC_TOP}
    """,
    families=("text", "multibyte", "bench"),
)
def q171_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_COLLOC_TOP} adjacent-pair collocations by lift (support ≥
    {_COLLOC_MIN_SUP}).

    The lift ratio is emitted as exact BIGINT numerator/denominator plus
    the one-division double, so ordering and values hash identically on
    both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    nxt = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.withColumn("w2", F.lead("w").over(nxt))
        .where((F.col("w") != "") & F.col("w2").isNotNull() & (F.col("w2") != ""))
        .select(F.col("w").alias("w1"), "w2")
    )
    uni = (
        toks.where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    total = bg.agg(F.count("*").alias("total"))
    scored = (
        bgc.where(F.col("c_xy") >= _COLLOC_MIN_SUP)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_xy",
            (F.col("total") * F.col("c_xy")).alias("lift_num"),
            (F.col("c1") * F.col("c2")).alias("lift_den"),
            (
                (F.col("total") * F.col("c_xy")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "w1", "w2").limit(_COLLOC_TOP)


# per-document CHARACTER-trigram counts per (session, corpus) — the
# shared upstream of every char-3-gram consumer (q188's LM, q211's
# language profiles, q218/q220's LM gate model): one corpus explode +
# (doc, tri) count, materialized once per corpus snapshot exactly like
# the word-shingle/pair/cluster memos. Consumers re-aggregate this frame
# instead of re-exploding the corpus.
_CHARTRI_CACHE: dict[tuple[str, str], DataFrame] = {}


def _chartri_counts_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread docs across cores before the explode (the same single-file
    # 1-task scan floor _trigrams_of/_substring_runs already fix): the
    # corpus arrives as one row group, so without this the char-trigram
    # explode — the widest narrow stage of the build — ran on one core
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") >= 3)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            ).alias("tri"),
        )
        .groupBy("doc_id", "lang", "tri")
        .agg(F.count("*").alias("c"))
    )


def _chartri_counts_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    return get_or_build(
        _CHARTRI_CACHE,
        spark,
        (sf_dir,),
        lambda: _chartri_counts_build(spark, sf_dir).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


# ---------------------------------------------------------------------------
# q188 — character-trigram corpus LM scoring (the CCNet-style "does this
# document look like the corpus" filter, without the transcendental):
# train char-3-gram occurrence counts over the whole corpus, then score
# each document by the average corpus frequency of ITS trigram
# occurrences. High score = in-distribution text; low = line noise,
# wrong-charset, boilerplate. All accumulation is BIGINT (count sums);
# the single final division is exact IEEE on both engines — a log-prob
# variant would rank identically but hash-mismatch on libm `ln`.
# ---------------------------------------------------------------------------


@register(
    "q188_char_trigram_lm",
    oracle="""
    WITH tri AS (
        SELECT doc_id, t.tri
        FROM documents, unnest(list_transform(
            generate_series(1, length(text) - 2),
            i -> substr(text, i, 3)
        )) AS t(tri)
        WHERE length(text) >= 3
    ),
    model AS (SELECT tri, count(*) AS n FROM tri GROUP BY tri),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM model)
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_tris,
           CAST(sum(m.n) AS BIGINT) AS freq_sum,
           CAST(sum(m.n) AS DOUBLE)
               / (CAST(t.total AS DOUBLE) * count(*)) AS lm_score
    FROM tri d JOIN model m USING (tri) CROSS JOIN tot t
    GROUP BY d.doc_id, t.total
    """,
    families=("text", "multibyte", "bench"),
)
def q188_char_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average corpus-frequency of its character trigrams
    (self-trained 3-gram LM filter score).

    Scale shape: the MODEL is bounded by the charset cubed (tens of
    thousands of rows however big the corpus — it broadcasts). Reads the
    MEMOIZED per-document trigram-count frame (one corpus explode per
    snapshot, shared with q211/q218); the model re-aggregates it and the
    scoring join probes it — |distinct (doc, tri)| rows instead of every
    occurrence (measured 4.1 → ~2.5s at sf0.1 for the pre-agg alone; at
    100 TB the probe-side shrink is the bigger win). Occurrence weights
    ride the integer `c` column, so all sums are the same BIGINTs as the
    per-occurrence form and the one final division is bit-identical.
    """
    dtc = _chartri_counts_persisted(spark, sf_dir).select(
        "doc_id", "tri", "c"
    )
    model = dtc.groupBy("tri").agg(F.sum("c").alias("n"))
    tot = model.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        dtc.join(F.broadcast(model), "tri")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "total")
        .agg(
            F.sum("c").cast("bigint").alias("n_tris"),
            F.sum(F.col("c") * F.col("n")).cast("bigint").alias("freq_sum"),
        )
        .select(
            "doc_id",
            "n_tris",
            "freq_sum",
            (
                F.col("freq_sum").cast("double")
                / (F.col("total").cast("double") * F.col("n_tris"))
            ).alias("lm_score"),
        )
    )


# ---------------------------------------------------------------------------
# q192 — tokenizer fertility audit: with a frequency-induced vocabulary
# (every token covering ≥ 1/1000 of corpus occurrences — scale-invariant,
# unlike an absolute count cutoff), charge 1 token per in-vocab word and
# a byte-fallback of length(word) tokens per OOV word, then report
# per-source fertility (tokens per word). This is the metric that decides
# whether a tokenizer fits a domain — fertility >> 1 on a source means
# the vocab under-serves it (the multilingual tax, measured).
# ---------------------------------------------------------------------------


@register(
    "q192_tokenizer_fertility",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source, t.tok
        FROM documents, unnest(string_split(text, ' ')) AS t(tok)
    ),
    freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM freq),
    vocab AS (
        SELECT tok FROM freq, tot WHERE n * 1000 >= total
    ),
    costed AS (
        SELECT t.source,
               CASE WHEN v.tok IS NOT NULL THEN 1
                    ELSE length(t.tok) END AS cost
        FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(cost) AS BIGINT) AS n_tokens,
           CAST(sum(cost) AS DOUBLE) / count(*) AS fertility
    FROM costed GROUP BY source
    """,
    families=("text", "multibyte", "bench"),
)
def q192_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility under a ≥0.1%-frequency vocabulary
    with character fallback for OOV words.

    Scale shape: vocabulary induction is one map-side-combined token
    count; the vocab (bounded: at most 1000 tokens can each hold ≥1/1000
    of occurrences) BROADCASTS; costing is a narrow scan + hash probe +
    combinable per-source sums. Integer token costs — fertility is the
    one final division.
    """
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").alias("n"))
    tot = freq.agg(F.sum("n").cast("bigint").alias("total"))
    vocab = (
        freq.crossJoin(F.broadcast(tot))
        .where(F.col("n") * 1000 >= F.col("total"))
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    costed = tok.join(F.broadcast(vocab), "tok", "left").select(
        "source",
        F.when(F.col("in_vocab").isNotNull(), F.lit(1))
        .otherwise(F.length("tok"))
        .cast("long")
        .alias("cost"),
    )
    return costed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("cost").cast("bigint").alias("n_tokens"),
        (F.sum("cost").cast("double") / F.count("*")).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# q198 — language-label QA: the confusion matrix between the stored lang
# label and the marker-word prediction (q30b's classifier), plus each
# cell's share of its labeled row. Label noise is a first-order data
# problem at 100 TB — before training on `lang`, measure how often the
# content disagrees with it, per label.
# ---------------------------------------------------------------------------


def _langid_confusion_sql() -> str:
    scores = []
    for lang, markers in LANG_MARKERS.items():
        expr = " + ".join(_count_sql("p", m) for m in markers)
        scores.append(f"CAST({expr} AS BIGINT) AS score_{lang}")
    langs = sorted(LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lang} = {greatest} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH p AS (SELECT doc_id, lang, (' ' || text || ' ') AS p FROM documents),
    s AS (SELECT doc_id, lang, {", ".join(scores)} FROM p),
    pred AS (
        SELECT lang AS labeled_lang, {case} AS predicted_lang FROM s
    ),
    cells AS (
        SELECT labeled_lang, predicted_lang,
               CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY labeled_lang, predicted_lang
    )
    SELECT labeled_lang, predicted_lang, n,
           CAST(n AS DOUBLE) / CAST(sum(n) OVER (
               PARTITION BY labeled_lang) AS DOUBLE) AS share_of_label,
           labeled_lang = predicted_lang AS agree
    FROM cells
    """


@register(
    "q198_langid_confusion",
    oracle=_langid_confusion_sql(),
    families=("text", "multibyte", "bench"),
)
def q198_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """labeled-lang × predicted-lang confusion cells with per-label
    shares — the audit that prices `lang` before anyone trains on it.

    Scale shape: the marker scoring is q30b's pure column expressions
    (one narrow pass, no Python), the confusion matrix is a
    map-side-combined count over a |langs|² key space, and the share
    window partitions by labeled_lang over at most |langs| rows per
    partition. The integer count ratio is the only division.
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "p", F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    )
    for lang, markers in LANG_MARKERS.items():
        expr = " + ".join(_count_sql("p", m) for m in markers)
        d = d.withColumn(f"score_{lang}", F.expr(f"CAST({expr} AS BIGINT)"))
    langs = sorted(LANG_MARKERS)
    greatest = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == greatest, lang).otherwise(pred)
    cells = (
        d.select(
            F.col("lang").alias("labeled_lang"),
            pred.alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(w).cast("double")
        ).alias("share_of_label"),
        (F.col("labeled_lang") == F.col("predicted_lang")).alias("agree"),
    )


# ---------------------------------------------------------------------------
# q210 — intra-document repetition spans: the max-repeated word-5-gram
# per document plus the distinct/total 5-gram ratio. Catches the
# degeneration q41's token-level ratios miss — a doc can have healthy
# token diversity while looping the same paragraph (the classic LM-output
# failure and boilerplate signature). Explode + per-(doc, gram) count +
# per-doc max: all map-side-combinable.
# ---------------------------------------------------------------------------

_REP_N = 5  # span length in words


@register(
    "q210_self_repetition",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
        WHERE len(string_split(text, ' ')) >= {_REP_N}
    ),
    grams AS (
        SELECT doc_id, g.g
        FROM tok, unnest(list_transform(
            generate_series(1, len(l) - {_REP_N - 1}),
            i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' '
                 || l[i+3] || ' ' || l[i+4]
        )) AS g(g)
    ),
    per_gram AS (
        SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS n_distinct_grams,
           CAST(max(c) AS BIGINT) AS max_repeat,
           CAST(count(*) AS DOUBLE) / sum(c) AS distinct_ratio
    FROM per_gram GROUP BY doc_id
    """,
    families=("text", "multibyte", "bench"),
)
def q210_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document {_REP_N}-gram repetition profile: occurrence count,
    distinct count, the most-repeated span's multiplicity, and the
    distinct ratio (1.0 = no span repeats).

    Scale shape: one narrow pass builds the grams (single split +
    transform per row, linear per doc), then two map-side-combined
    aggregations keyed by doc — repetition never leaves the document,
    so nothing shuffles beyond (doc, gram) partials.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("l")).where(
        F.size("l") >= _REP_N
    )
    join_expr = " || ' ' || ".join(f"l[i + {j}]" for j in range(_REP_N))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(l) - {_REP_N}), i -> {join_expr})"
            )
        ).alias("g"),
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count("*").cast("bigint").alias("n_distinct_grams"),
        F.max("c").cast("bigint").alias("max_repeat"),
        (F.count("*").cast("double") / F.sum("c")).alias("distinct_ratio"),
    )


# ---------------------------------------------------------------------------
# q211 — profile-based language ID (textcat/CLD family): per-language
# character-trigram profiles (top-{200} trigrams by frequency over the
# labeled slice), each document scored by how many of its trigram
# OCCURRENCES the profile covers, argmax with alphabetic tie-break.
# Character profiles are what production lang-ID actually uses — they
# survive domains where q30b's marker WORDS never appear. Scores are
# integer coverage counts; no floats anywhere until the driver.
# ---------------------------------------------------------------------------

_PROFILE_TOP = 200


def _q211_sql() -> str:
    langs = sorted(LANG_MARKERS)
    score_cols = ", ".join(
        f"CAST(coalesce(max(CASE WHEN s.lang = '{lg}' THEN s.cov END), 0)"
        f" AS BIGINT) AS score_{lg}"
        for lg in langs
    )
    greatest = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lg} = {greatest} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
    WITH tri AS (
        SELECT doc_id, lang, t.tri
        FROM documents, unnest(list_transform(
            generate_series(1, length(text) - 2),
            i -> substr(text, i, 3)
        )) AS t(tri)
        WHERE length(text) >= 3
    ),
    lang_tri AS (
        SELECT lang, tri, count(*) AS c FROM tri GROUP BY lang, tri
    ),
    profile AS (
        SELECT lang, tri FROM (
            SELECT lang, tri,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY c DESC, tri) AS rn
            FROM lang_tri
        ) WHERE rn <= {_PROFILE_TOP}
    ),
    cov AS (
        SELECT t.doc_id, p.lang, count(*) AS cov
        FROM tri t JOIN profile p ON t.tri = p.tri
        GROUP BY t.doc_id, p.lang
    ),
    scored AS (
        SELECT d.doc_id, d.lang AS labeled_lang, {score_cols}
        FROM documents d LEFT JOIN cov s ON s.doc_id = d.doc_id
        GROUP BY d.doc_id, d.lang
    )
    SELECT doc_id, labeled_lang, {case} AS predicted_lang,
           {", ".join(f"score_{lg}" for lg in langs)}
    FROM scored
    """


@register(
    "q211_profile_lang_id",
    oracle=_q211_sql(),
    families=("text", "multibyte", "bench"),
)
def q211_profile_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram profile language ID: per-language top-{_PROFILE_TOP}
    profiles, integer coverage scores per document, deterministic argmax.

    Scale shape: profile building is one map-side-combined (lang, tri)
    count plus a per-LANG rank window (vocab-sized partitions — the
    corpus never passes through it); the |langs|·{_PROFILE_TOP}-row
    profile broadcasts; scoring is one narrow pass + hash probe +
    combinable (doc, lang) count. Exactly the q188 broadcast-model
    shape with a per-class model.
    """
    langs = sorted(LANG_MARKERS)
    docs = load_table(spark, sf_dir, "documents")
    # The memo applies the length≥3 filter ONLY to the trigram explode
    # input; the scored output covers EVERY document (short docs score
    # all-zero with the alphabetic-first argmax), matching the oracle's
    # left join over the unfiltered table.
    # The MEMOIZED per-doc trigram-count frame (shared with q188/q218):
    # both the profile build and the coverage probe re-aggregate it, so
    # the broadcast probe touches |distinct (doc, tri)| rows instead of
    # every occurrence and the corpus is exploded once per snapshot.
    dtc = _chartri_counts_persisted(spark, sf_dir)
    lang_tri = dtc.groupBy("lang", "tri").agg(F.sum("c").alias("c"))
    wl = Window.partitionBy("lang").orderBy(F.col("c").desc(), "tri")
    profile = (
        lang_tri.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") <= _PROFILE_TOP)
        .select(F.col("lang").alias("p_lang"), "tri")
    )
    cov = (
        dtc.join(F.broadcast(profile), "tri")
        .groupBy("doc_id", "p_lang")
        .agg(F.sum("c").alias("cov"))
    )
    scored = (
        docs.select("doc_id", F.col("lang").alias("labeled_lang"))
        .join(cov, "doc_id", "left")
        .groupBy("doc_id", "labeled_lang")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("p_lang") == lg, F.col("cov"))),
                    F.lit(0),
                )
                .cast("bigint")
                .alias(f"score_{lg}")
                for lg in langs
            ]
        )
    )
    greatest = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.lit(None).cast("string")
    for lg in reversed(langs):
        pred = F.when(F.col(f"score_{lg}") == greatest, lg).otherwise(pred)
    return scored.select(
        "doc_id",
        "labeled_lang",
        pred.alias("predicted_lang"),
        *[F.col(f"score_{lg}") for lg in langs],
    )


# ---------------------------------------------------------------------------
# q215 — proximity search: documents where two query terms co-occur
# within a K-token window, ranked by their minimum token distance. The
# retrieval primitive between bag-of-words (BM25, q49 — blind to word
# order) and phrase match (exact adjacency): "spark" NEAR/5 "join".
# Position lists come from one filter over the token index sequence;
# the min pairwise distance is a nested fold over the two (short)
# position lists — all JVM higher-order functions, no explode of the
# position cross product into rows.
# ---------------------------------------------------------------------------

_PROX_A, _PROX_B, _PROX_WIN = "spark", "join", 5


@register(
    "q215_proximity_search",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    pos AS (
        SELECT doc_id,
               list_filter(generate_series(1, len(l)),
                           i -> l[i] = '{_PROX_A}') AS pa,
               list_filter(generate_series(1, len(l)),
                           i -> l[i] = '{_PROX_B}') AS pb
        FROM t
    )
    SELECT doc_id,
           CAST(len(pa) AS BIGINT) AS n_a,
           CAST(len(pb) AS BIGINT) AS n_b,
           CAST(list_min(list_transform(pa, a ->
                list_min(list_transform(pb, b -> abs(a - b))))) AS BIGINT)
               AS min_dist
    FROM pos
    WHERE len(pa) > 0 AND len(pb) > 0
      AND list_min(list_transform(pa, a ->
              list_min(list_transform(pb, b -> abs(a - b)))))
          <= {_PROX_WIN}
    """,
    families=("text", "multibyte", "bench"),
)
def q215_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs where '{_PROX_A}' and '{_PROX_B}' occur within
    {_PROX_WIN} tokens, with occurrence counts and the min distance.

    Scale shape: ONE `aggregate` fold over the token array computes
    counts and the running min-distance together (the classic two-pointer
    merge: carry each term's last position, update best on every hit) —
    O(doc length) per doc, surfaced through `inline` so the struct is
    evaluated exactly once. The earlier two-position-array form was
    algorithmically fine but CollapseProject re-evaluated the O(n)
    position filters once per referencing expression (sizes, fold,
    filters — measured 6.1s vs 0.5s at sf0.1, a 13× tax for identical
    semantics); generators are the documented barrier Catalyst will not
    duplicate. At index scale the same fold runs over q51's posting
    lists so only the two terms' postings are ever read.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("l"))
    one_pass = f"""
    aggregate(
      l,
      named_struct('pos', 0, 'la', -1, 'lb', -1,
                   'na', 0L, 'nb', 0L, 'best', 2147483647),
      (acc, x) -> named_struct(
        'pos', acc.pos + 1,
        'la', IF(x = '{_PROX_A}', acc.pos + 1, acc.la),
        'lb', IF(x = '{_PROX_B}', acc.pos + 1, acc.lb),
        'na', acc.na + IF(x = '{_PROX_A}', 1L, 0L),
        'nb', acc.nb + IF(x = '{_PROX_B}', 1L, 0L),
        'best', LEAST(acc.best,
            IF(x = '{_PROX_A}' AND acc.lb >= 0, acc.pos + 1 - acc.lb,
            IF(x = '{_PROX_B}' AND acc.la >= 0, acc.pos + 1 - acc.la,
               2147483647)))),
      acc -> acc)
    """
    return (
        t.select("doc_id", F.inline(F.array(F.expr(one_pass))))
        .where(
            (F.col("na") > 0)
            & (F.col("nb") > 0)
            & (F.col("best") <= _PROX_WIN)
        )
        .select(
            "doc_id",
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.col("best").cast("bigint").alias("min_dist"),
        )
    )


# ---------------------------------------------------------------------------
# q222 — Gopher-style quality-rule battery with per-rule attribution.
# The published rule filters (Rae et al. 2021, "Scaling Language Models:
# ... Gopher", Table A1; reused by MassiveText/RefinedWeb/FineWeb) are a
# BATTERY of independent document gates, and what a curation run needs is
# not just the final keep/drop (q30e's single score) but WHICH rule fired,
# per source — that attribution is what tells you a crawl slice is
# boilerplate (symbol rule) vs gibberish (alpha-word rule).
#
# Every rule is an integer cross-multiplication (3·n_words ≤ n_chars
# instead of 3 ≤ mean_word_len), so the battery is exact in both engines —
# the log/float-free discipline of q154. The one double is the final
# pass_share division.
# ---------------------------------------------------------------------------

# Gopher A1 bounds, adapted to the house primitives: word count in
# [50, 100k], mean word length in [3, 10], symbol-to-word ratio ≤ 0.1
# (# and ellipsis), ≥ 2 distinct stopwords present, ≥ 80% of words
# containing an alphabetic character.
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000


def _gopher_rules_sql() -> str:
    stop_hits = " + ".join(
        f"(CASE WHEN {_count_sql('p', m)} > 0 THEN 1 ELSE 0 END)"
        for m in STOPWORDS
    )
    return f"""
    WITH f AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace,
               CAST({_count_sql("text", "#")} AS BIGINT)
                   + CAST({_count_sql("text", "...")} AS BIGINT) AS n_symbols,
               CAST({stop_hits} AS BIGINT) AS n_stop_kinds,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                   AS n_alpha_words
        FROM (SELECT source, text, (' ' || text || ' ') AS p FROM documents)
    ),
    r AS (
        SELECT source,
               (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
                   AS r_word_count,
               (3 * n_words <= n_nonspace AND n_nonspace <= 10 * n_words)
                   AS r_mean_word_len,
               (10 * n_symbols <= n_words) AS r_symbol_ratio,
               (n_stop_kinds >= 2) AS r_stopwords,
               (10 * n_alpha_words >= 8 * n_words) AS r_alpha_words
        FROM f
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN r_word_count THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_word_count,
           CAST(sum(CASE WHEN r_mean_word_len THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_mean_word_len,
           CAST(sum(CASE WHEN r_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_symbol_ratio,
           CAST(sum(CASE WHEN r_stopwords THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_stopwords,
           CAST(sum(CASE WHEN r_alpha_words THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_alpha_words,
           CAST(sum(CASE WHEN r_word_count AND r_mean_word_len
                          AND r_symbol_ratio AND r_stopwords
                          AND r_alpha_words THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_all,
           CAST(sum(CASE WHEN r_word_count AND r_mean_word_len
                          AND r_symbol_ratio AND r_stopwords
                          AND r_alpha_words THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS pass_share
    FROM r GROUP BY source
    """


@register(
    "q222_gopher_rules",
    oracle=_gopher_rules_sql(),
    families=("text", "multibyte", "bench"),
)
def q222_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source pass rates for the five-gate Gopher rule battery
    (word count, mean word length, symbol ratio, stopword presence,
    alpha-word share) with per-rule attribution counts.

    Scale shape: ONE narrow codegen pass computes every per-doc feature
    (substring counts via the replace-length trick, the alpha-word count
    via a higher-order filter over the token split — no Python, no
    regex-dialect skew beyond the shared [A-Za-z] class), then one
    combinable groupBy(source). No joins, no window; the per-rule
    thresholds are integer cross-multiplications so both engines agree
    bit-for-bit (q154's log-free discipline). At 100 TB this is the
    cheapest possible shape — a map pass plus a |sources|-row aggregate.
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "p", F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    )
    stop_hits = " + ".join(
        f"(CASE WHEN {_count_sql('p', m)} > 0 THEN 1 ELSE 0 END)"
        for m in STOPWORDS
    )
    f = d.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.length(F.regexp_replace("text", " ", "")).cast("long").alias(
            "n_nonspace"
        ),
        (
            F.expr(f"CAST({_count_sql('text', '#')} AS BIGINT)")
            + F.expr(f"CAST({_count_sql('text', '...')} AS BIGINT)")
        ).alias("n_symbols"),
        F.expr(f"CAST({stop_hits} AS BIGINT)").alias("n_stop_kinds"),
        F.size(
            F.filter(F.split("text", " "), lambda x: x.rlike("[A-Za-z]"))
        ).cast("long").alias("n_alpha_words"),
    )
    r = f.select(
        "source",
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS).alias(
            "r_word_count"
        ),
        (
            (3 * F.col("n_words") <= F.col("n_nonspace"))
            & (F.col("n_nonspace") <= 10 * F.col("n_words"))
        ).alias("r_mean_word_len"),
        (10 * F.col("n_symbols") <= F.col("n_words")).alias("r_symbol_ratio"),
        (F.col("n_stop_kinds") >= 2).alias("r_stopwords"),
        (10 * F.col("n_alpha_words") >= 8 * F.col("n_words")).alias(
            "r_alpha_words"
        ),
    )
    all_pass = (
        F.col("r_word_count")
        & F.col("r_mean_word_len")
        & F.col("r_symbol_ratio")
        & F.col("r_stopwords")
        & F.col("r_alpha_words")
    )
    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("r_word_count").cast("int")).cast("long").alias(
            "pass_word_count"
        ),
        F.sum(F.col("r_mean_word_len").cast("int")).cast("long").alias(
            "pass_mean_word_len"
        ),
        F.sum(F.col("r_symbol_ratio").cast("int")).cast("long").alias(
            "pass_symbol_ratio"
        ),
        F.sum(F.col("r_stopwords").cast("int")).cast("long").alias(
            "pass_stopwords"
        ),
        F.sum(F.col("r_alpha_words").cast("int")).cast("long").alias(
            "pass_alpha_words"
        ),
        F.sum(all_pass.cast("int")).cast("long").alias("n_pass_all"),
        (
            F.sum(all_pass.cast("int")).cast("double")
            / F.count("*").cast("double")
        ).alias("pass_share"),
    )


# ---------------------------------------------------------------------------
# q225 — hybrid retrieval fusion: Reciprocal Rank Fusion (RRF, Cormack et
# al. SIGIR'09 — the fusion rule behind most production "hybrid search")
# over the BM25 keyword ranking (q49's scorer) and a dense cosine ranking
# (q29's brute-force scorer, anchored on a fixed query vector). This is
# the retrieval-composition row the round-6 verdict named: each leg is an
# already-proven plan; fusion itself is a k-row full-outer join.
# ---------------------------------------------------------------------------

_RRF_K = 60          # standard RRF damping constant
_RRF_DEPTH = 20      # per-leg ranking depth fed into the fusion
_RRF_ANCHOR = 0      # dense query = embedding of vec_id 0 (fixed, no RNG)

# 1/(k + rank) with the rank cast to DOUBLE before the add — identical
# IEEE expression text in both dialects (the q49 literal-interpolation
# discipline); absent legs contribute exactly 0.0, sparse term added first.
_RRF_SCORE = (
    f"COALESCE(1.0 / ({_RRF_K}.0 + CAST(sparse_rn AS DOUBLE)), 0.0)"
    f" + COALESCE(1.0 / ({_RRF_K}.0 + CAST(dense_rn AS DOUBLE)), 0.0)"
)

_DUCK_COS_225 = (
    "list_dot_product(qv, v) / NULLIF(sqrt(list_dot_product(qv, qv))"
    " * sqrt(list_dot_product(v, v)), 0.0)"
)


@register(
    "q225_hybrid_rrf_fusion",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
               {", ".join(
                   f"CAST(len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS BIGINT) AS tf{i}"
                   for i, t in enumerate(BM25_TERMS)
               )}
        FROM documents
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
               {", ".join(
                   f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
                   for i in range(len(BM25_TERMS))
               )}
        FROM t
    ),
    s AS (
        SELECT doc_id, {_BM25_SCORE} AS score
        FROM t, g
        WHERE {" + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))} > 0
    ),
    sparse AS (
        SELECT doc_id, rn AS sparse_rn FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rn
            FROM s
        ) WHERE rn <= {_RRF_DEPTH}
    ),
    e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    anchor AS (SELECT v AS qv FROM e WHERE vec_id = {_RRF_ANCHOR}),
    dsc AS (
        SELECT e.vec_id, {_DUCK_COS_225} AS sim
        FROM e, anchor WHERE e.vec_id <> {_RRF_ANCHOR}
    ),
    dense AS (
        SELECT vec_id AS doc_id, rn AS dense_rn FROM (
            SELECT vec_id,
                   row_number() OVER (
                       ORDER BY sim DESC NULLS LAST, vec_id) AS rn
            FROM dsc
        ) WHERE rn <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(sparse.doc_id, dense.doc_id) AS doc_id,
               sparse_rn, dense_rn, {_RRF_SCORE} AS rrf_score
        FROM sparse FULL OUTER JOIN dense ON sparse.doc_id = dense.doc_id
    )
    SELECT doc_id, sparse_rn, dense_rn, rrf_score, rn FROM (
        SELECT *, row_number() OVER (
            ORDER BY rrf_score DESC, doc_id) AS rn
        FROM fused
    ) WHERE rn <= {_RRF_DEPTH}
    """,
    families=("bench",),
)
def q225_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: RRF-fuse the BM25 top-{_RRF_DEPTH} (q49's fixed
    keyword query) with the dense cosine top-{_RRF_DEPTH} (anchored on
    vec_id {_RRF_ANCHOR}); score = Σ 1/({_RRF_K}+rank) over the legs a
    doc appears in.

    Scale shape: each leg keeps its own proven plan — BM25 is a narrow
    codegen scan + one single-row stat broadcast + TakeOrderedAndProject;
    the dense leg broadcasts ONE query vector over the embedding scan and
    takes the same partial top-k. Fusion then touches only 2×{_RRF_DEPTH}
    rows: a driver-sized full-outer join and re-rank, ZERO additional
    passes over the corpus. At 100 TB with a query batch, both legs stay
    per-query-independent and the fusion join keys on (query_id, doc_id) —
    still bounded by k·|queries|, never corpus size.
    """
    from spark_state_provider_spark.functions.vector import as_double_vec, cosine

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    t = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter(F.col("toks"), _token_eq(t))).cast("long").alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    g = t.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    any_tf = sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS)))
    s = (
        t.where(any_tf > 0)
        .crossJoin(F.broadcast(g))
        .withColumn("score", F.expr(_BM25_SCORE))
        .select("doc_id", "score")
    )
    w_s = Window.orderBy(F.col("score").desc(), "doc_id")
    sparse = (
        s.orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("sparse_rn", F.row_number().over(w_s))
        .select("doc_id", "sparse_rn")
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    anchor = emb.where(F.col("vec_id") == _RRF_ANCHOR).select(
        F.col("v").alias("qv")
    )
    dsc = (
        emb.where(F.col("vec_id") != _RRF_ANCHOR)
        .crossJoin(F.broadcast(anchor))
        .select("vec_id", cosine(F.col("qv"), F.col("v")).alias("sim"))
    )
    w_d = Window.orderBy(F.desc_nulls_last("sim"), "vec_id")
    dense = (
        dsc.orderBy(F.desc_nulls_last("sim"), "vec_id")
        .limit(_RRF_DEPTH)
        .withColumn("dense_rn", F.row_number().over(w_d))
        .select(F.col("vec_id").alias("doc_id"), "dense_rn")
    )

    fused = sparse.join(dense, "doc_id", "full_outer").withColumn(
        "rrf_score", F.expr(_RRF_SCORE)
    )
    w_f = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
    return (
        fused.orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("rn", F.row_number().over(w_f))
        .select("doc_id", "sparse_rn", "dense_rn", "rrf_score", "rn")
    )


# ---------------------------------------------------------------------------
# q229 — passage-level retrieval with MaxP doc rollup (Dai & Callan 2019:
# score each PASSAGE, rank documents by their best passage — the standard
# fix for long-document retrieval where whole-doc term statistics drown
# local relevance). Chunks are q77's overlapping token windows; the scorer
# is q49's rational BM25 evaluated at CHUNK granularity (chunk-level dl,
# avgdl, df, N).
# ---------------------------------------------------------------------------

_MAXP_CHUNK_TOKENS = 32
_MAXP_STRIDE = 24
_MAXP_TOP = 20


@register(
    "q229_maxp_chunk_retrieval",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    ch AS (
        SELECT doc_id,
               CAST((s.start - 1) // {_MAXP_STRIDE} AS BIGINT) AS chunk_idx,
               l[s.start : s.start + {_MAXP_CHUNK_TOKENS} - 1] AS cl
        FROM tok, unnest(generate_series(1, len(l), {_MAXP_STRIDE})) AS s(start)
        WHERE s.start = 1
           OR s.start - {_MAXP_STRIDE} + {_MAXP_CHUNK_TOKENS} - 1 < len(l)
    ),
    t AS (
        SELECT doc_id, chunk_idx,
               CAST(len(cl) AS BIGINT) AS dl,
               {", ".join(
                   f"CAST(len(list_filter(cl, x -> x = '{t}')) AS BIGINT) AS tf{i}"
                   for i, t in enumerate(BM25_TERMS)
               )}
        FROM ch
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
               {", ".join(
                   f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
                   for i in range(len(BM25_TERMS))
               )}
        FROM t
    ),
    s AS (
        SELECT doc_id, chunk_idx, {_BM25_SCORE} AS score
        FROM t, g
        WHERE {" + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))} > 0
    ),
    best AS (
        SELECT doc_id, chunk_idx AS best_chunk_idx, score FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, chunk_idx) AS crn
            FROM s
        ) WHERE crn = 1
    )
    SELECT doc_id, best_chunk_idx, score, rn FROM (
        SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM best
    ) WHERE rn <= {_MAXP_TOP}
    """,
    families=("bench",),
)
def q229_maxp_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxP top-{_MAXP_TOP}: rank documents by their best-scoring
    {_MAXP_CHUNK_TOKENS}-token chunk under chunk-granular BM25 (q49's
    fixed keyword query; chunk-level N/avgdl/df statistics).

    Scale shape: chunking is q77's narrow row-expanding map (fan-out ≤
    ceil(tokens/stride) per doc, no shuffle); chunk stats are ONE
    single-row aggregate broadcast back; the per-doc argmax is a
    map-side-combinable window bounded by each doc's own chunks; the doc
    ranking is TakeOrderedAndProject. At 100 TB this is exactly how a
    passage index prices: the chunk explosion stays pipelined into the
    scoring scan — chunks never materialize corpus-wide.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("l"))
    ch = (
        toks.select(
            "doc_id",
            "l",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("l"), F.lit(1)),
                    F.lit(_MAXP_STRIDE),
                )
            ).alias("start"),
        )
        .where(
            (F.col("start") == 1)
            | (
                F.col("start") - _MAXP_STRIDE + _MAXP_CHUNK_TOKENS - 1
                < F.size("l")
            )
        )
        .select(
            "doc_id",
            F.expr(f"CAST((start - 1) DIV {_MAXP_STRIDE} AS BIGINT)").alias(
                "chunk_idx"
            ),
            F.expr(f"slice(l, start, {_MAXP_CHUNK_TOKENS})").alias("cl"),
        )
    )
    t = ch.select(
        "doc_id",
        "chunk_idx",
        F.size("cl").cast("long").alias("dl"),
        *[
            F.size(F.filter(F.col("cl"), _token_eq(t))).cast("long").alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    g = t.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    any_tf = sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS)))
    s = (
        t.where(any_tf > 0)
        .crossJoin(F.broadcast(g))
        .withColumn("score", F.expr(_BM25_SCORE))
        .select("doc_id", "chunk_idx", "score")
    )
    w_c = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "chunk_idx")
    best = (
        s.withColumn("crn", F.row_number().over(w_c))
        .where(F.col("crn") == 1)
        .select("doc_id", F.col("chunk_idx").alias("best_chunk_idx"), "score")
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        best.orderBy(F.col("score").desc(), "doc_id")
        .limit(_MAXP_TOP)
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "best_chunk_idx", "score", "rn")
    )
