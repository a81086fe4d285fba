"""Text-analysis queries over ``documents`` (operators in
:mod:`multisql_spark.operators.textan`), each hash-matched against a
DuckDB oracle computing the identical arithmetic."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multisql_spark.operators import textan
from multisql_spark.queries import register
from multisql_spark.tables import load_tables, read_parquet

# repo-relative fixture path (ADVICE r6: the only oracle with an
# environment-dependent absolute path — build it from __file__ so any
# checkout location works, as tools/make_zlib_fixture.py already does)
import os as _os

_ZLIB_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tools", "fixtures", "zlib_ratio_fixture.parquet",
)
_BPE_MERGES = _os.path.join(
    _os.path.dirname(_ZLIB_FIXTURE), "bpe_merges.parquet"
)
_BPE_WORD_TOKENS = _os.path.join(
    _os.path.dirname(_ZLIB_FIXTURE), "bpe_word_tokens.parquet"
)


@register(
    "text_token_stats",
    oracle="""
    SELECT
      doc_id,
      CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      CAST(length(text) AS INT) AS n_chars_text,
      round((length(text) - len(string_split(text, ' ')) + 1)
            * 1.0 / len(string_split(text, ' ')), 4) AS avg_token_len,
      CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM documents
    """,
    tags=("text", "tokens"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.token_stats(t["documents"])


@register(
    "text_quality",
    oracle="""
    WITH q AS (
      SELECT doc_id,
        len(string_split(text, ' ')) * 1.0 AS n,
        len(list_filter(string_split(text, ' '),
            t -> t IN ('the', 'a', 'of', 'and'))) * 1.0 AS stop_hits,
        len(list_distinct(string_split(text, ' '))) AS n_distinct,
        length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id,
      round(least(n_chars / 500.0, 1.0), 4) AS len_score,
      round(n_distinct / n, 4) AS diversity,
      round(stop_hits / n, 4) AS stop_ratio,
      round((least(n_chars / 500.0, 1.0) + n_distinct / n
             + least(stop_hits / n * 5, 1.0)) / 3.0, 4) AS quality
    FROM q
    """,
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/diversity/stopword quality pre-filter."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.quality_score(t["documents"])


def _langid_oracle() -> str:
    score_cols = ",\n      ".join(
        "len(list_filter(string_split(text, ' '), t -> t IN ({}))) "
        "AS score_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in sorted(textan.LANG_MARKERS.items())
    )
    # argmax with (score desc, lang asc) tie-break, mirroring the Spark
    # array_max over (score, lang) structs with reverse-sorted lang order
    pairs = ", ".join(
        f"(score_{lang}, '{lang}')" for lang in sorted(textan.LANG_MARKERS)
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
      {score_cols}
      FROM documents
    )
    SELECT doc_id, labeled_lang,
           score_de, score_en, score_es, score_fr, score_zh,
           (SELECT p[2] FROM (
              SELECT unnest(ARRAY[{pairs}]) AS p
            ) ORDER BY CAST(p[1] AS INT) DESC, p[2] ASC LIMIT 1)
             AS predicted_lang
    FROM scored
    """


@register("text_langid", oracle=_langid_oracle(), tags=("text", "langid"))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic with deterministic argmax."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.lang_id(t["documents"])


@register(
    "text_fingerprints",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks
      FROM documents
    )
    SELECT doc_id,
      md5(text) AS fp_exact,
      md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_set,
      (SELECT min(md5(array_to_string(list_slice(toks, i, i + 2), ' ')))
       FROM unnest(range(1, greatest(len(toks) - 1, 2))) AS r(i))
        AS fp_min_shingle
    FROM base
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact / set / min-shingle document fingerprints."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.fingerprints(t["documents"])


@register(
    "text_vocab_topk",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT tok, COUNT(*) AS n
    FROM toks GROUP BY tok
    ORDER BY n DESC, tok LIMIT 20
    """,
    tags=("text", "vocab"),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary histogram (explode + count + topK) — the shape
    of every corpus-statistics job; map-side combine keeps the shuffle at
    vocabulary size, not corpus size."""
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t["documents"]
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


@register(
    "text_edit_distance",
    oracle="""
    SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
           CAST(b.doc_id AS BIGINT) AS doc_b,
           levenshtein(substr(a.text, 1, 30), substr(b.text, 1, 30))
             AS prefix_dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang
     AND (a.n_chars % 16) = (b.n_chars % 16)
     AND a.doc_id < b.doc_id
    """,
    tags=("text", "edit-distance", "near-dup"),
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance over blocked candidate pairs.

    Levenshtein is O(len²) per pair, so at scale it NEVER runs all-pairs:
    a cheap blocking key (here lang + length bucket; in the dedup suite,
    LSH bands) makes the self-join equi — one shuffle, pair count bounded
    by block sizes — and the quadratic kernel runs on prefixes only.
    This is the verify stage of a near-dup pipeline: LSH proposes,
    edit-distance confirms.
    """
    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"].select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        (F.col("n_chars") % 16).alias("lb"),
        F.substring("text", 1, 30).alias("prefix"),
    )
    a = d.toDF("doc_a", "lang", "lb", "pa")
    b = d.toDF("doc_b", "lang", "lb", "pb")
    return (
        a.join(b, ["lang", "lb"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").alias("prefix_dist"),
        )
    )


@register(
    "agg_percentiles_exact",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """,
    tags=("aggregate", "percentile"),
)
def agg_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (linear interpolation —
    identical definition in Spark's percentile and DuckDB's
    quantile_cont). Exact percentiles sort every group; this is the
    correctness baseline that `approx_sketches` (KLL, mergeable constant
    state) replaces at 100 TB."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
    )


@register(
    "text_normalize",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
             '\\s+', ' ', 'g')) AS norm_text,
           md5(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
             '\\s+', ' ', 'g'))) AS norm_hash
    FROM documents
    """,
    tags=("text", "normalize"),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization (lowercase / strip punctuation / collapse
    whitespace) with an md5 over the normalized form — the key for
    near-exact dedup that ignores formatting. Narrow map, no shuffle."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.normalize_text(t["documents"])


@register(
    "text_redact_pii",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           length(regexp_replace(text,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
             '<EMAIL>', 'g')) AS clean_len,
           len(regexp_extract_all(text,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
             AS n_emails,
           len(regexp_extract_all(text, '\\b\\d{7,}\\b')) AS n_numbers
    FROM documents
    """,
    tags=("text", "pii"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub accounting: emails replaced by a tag (asserted via the
    post-replacement length) plus per-document match counts. The full
    redacted text comes from :func:`operators.textan.redact_pii`; the
    query projects engine-agnostic accounting columns so the oracle
    hash-matches."""
    t = load_tables(spark, sf_dir, ["documents"])
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    digits = r"\b\d{7,}\b"
    return t["documents"].select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length(
            F.regexp_replace(F.col("text"), email, "<EMAIL>")
        ).alias("clean_len"),
        F.regexp_count(F.col("text"), F.lit(email)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(digits)).alias("n_numbers"),
    )


@register(
    "text_repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    cnts AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      GROUP BY doc_id, tok
    ),
    top AS (
      SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 4)
             AS top_token_frac
      FROM cnts GROUP BY doc_id
    ),
    dup AS (
      SELECT doc_id,
             CASE WHEN len(bg) > 0
                  THEN round(1 - list_unique(bg) / CAST(len(bg) AS DOUBLE), 4)
                  ELSE 0.0 END AS dup_bigram_frac
      FROM (
        SELECT doc_id,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1]) AS bg
        FROM t
      )
    )
    SELECT top.doc_id AS doc_id, top_token_frac, dup_bigram_frac
    FROM top JOIN dup ON top.doc_id = dup.doc_id
    """,
    tags=("text", "quality", "repetition"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition filters: top-token mass fraction and
    duplicate-bigram fraction per document."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.repetition_stats(t["documents"])


@register(
    "text_contamination",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    ng AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+4], ' '))) AS g
      FROM t
    ),
    bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 37 = 0),
    corpus AS (SELECT doc_id, g FROM ng WHERE doc_id % 37 <> 0)
    SELECT c.doc_id AS doc_id,
           count(*) AS n_ngrams,
           CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           round(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS contam_frac,
           sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) > 0
             AS contaminated
    FROM corpus c LEFT JOIN bench b USING (g)
    GROUP BY c.doc_id
    """,
    tags=("text", "contamination", "dedup"),
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: word 5-gram overlap of each corpus
    document against the held-out benchmark slice (doc_id % 37 = 0)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.contamination(
        t["documents"], F.col("doc_id") % 37 == 0, n=5
    )


@register(
    "text_quality_model",
    oracle="""
    WITH q AS (
      SELECT doc_id,
        len(string_split(text, ' ')) * 1.0 AS n,
        len(list_filter(string_split(text, ' '),
            t -> t IN ('the', 'a', 'of', 'and'))) * 1.0 AS stop_hits,
        len(list_distinct(string_split(text, ' '))) AS n_distinct,
        length(text) AS n_chars
      FROM documents
    ),
    z AS (
      SELECT doc_id,
        round(-1.5 + 2.2 * least(n_chars / 500.0, 1.0)
                   + 1.8 * (n_distinct / n)
                   + 1.2 * least(stop_hits / n * 5, 1.0), 6) AS logit
      FROM q
    )
    SELECT doc_id,
      logit,
      round(1.0 / (1.0 + exp(-logit)), 4) AS score,
      logit > 0 AS keep
    FROM z
    """,
    tags=("text", "quality", "model"),
)
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality classifier with logistic calibration
    (fastText-style cheap learned filter). The logit is quantized to
    1e-6 before exp so the rounded score matches DuckDB bit-for-bit; the
    keep decision depends only on the logit sign. Narrow map — no
    shuffle at any scale."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.quality_model_score(t["documents"])


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT sum(cnt) * 1.0 AS total FROM freq),
    lp AS (
      SELECT tok, CAST(round(ln(cnt / total) * 1e6) AS BIGINT) AS lp_q
      FROM freq, tot
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(sum(lp_q) / count(*) / 1e6, 4) AS avg_logprob
    FROM toks JOIN lp USING (tok)
    GROUP BY doc_id
    """,
    tags=("text", "lm", "quality"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring: per-doc mean log-prob under the
    corpus's own token distribution. Vocab-bounded aggregation + broadcast
    join; per-token log-probs quantize to 1e-6 BIGINTs so the order-free
    integer sum matches DuckDB exactly."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.unigram_logprob(t["documents"])


@register(
    "text_tfidf_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    docfreq AS (SELECT tok, count(*) AS df_docs FROM tf GROUP BY tok),
    nd AS (SELECT count(*) * 1.0 AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf,
             tf.tf * CAST(round(ln(n_docs / df_docs) * 1e6) AS BIGINT)
               AS score_q
      FROM tf JOIN docfreq USING (tok), nd
    )
    SELECT doc_id, rnk, tok, tf, round(score_q / 1e6, 4) AS tfidf
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score_q DESC, tok ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
    tags=("text", "tfidf"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf (exact integer
    scoring via 1e-6-quantized idf; lexicographic tie-break). The df
    table is vocab-bounded and broadcasts; the only wide op is the
    per-doc window on the high-cardinality doc id."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.tfidf_top_terms(t["documents"], top=3)


@register(
    "text_bigram_logprob",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, u.prev AS prev, u.cur AS cur FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> {'prev': toks[i], 'cur': toks[i + 1]})) AS u
        FROM t WHERE len(toks) >= 2
      )
    ),
    pair_cnt AS (SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY prev, cur),
    ctx_cnt AS (SELECT prev, sum(c2) AS c1 FROM pair_cnt GROUP BY prev),
    lp AS (
      SELECT p.prev, p.cur,
             CAST(round(ln(p.c2 * 1.0 / c.c1) * 1e6) AS BIGINT) AS lp_q
      FROM pair_cnt p JOIN ctx_cnt c USING (prev)
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           round(sum(lp.lp_q) / count(*) / 1e6, 4) AS avg_logprob
    FROM bg JOIN lp USING (prev, cur)
    GROUP BY bg.doc_id
    """,
    tags=("text", "lm", "bigram"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM scoring: per-doc mean log P(w_i | w_{i-1}) under the
    corpus's own bigram distribution — one step up the n-gram ladder from
    `text_unigram_logprob` toward perplexity filtering. The bigram and
    context tables are vocab-bounded aggregations that broadcast back
    onto the bigram stream; per-bigram log-probs quantize to 1e-6
    BIGINTs so the order-free integer sums hash-match DuckDB."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents"])
    # r11 (guide §1.3): materialize the split ONCE as a column before
    # the index lambda — referencing the split() *expression* inside
    # transform() re-evaluated it per element (O(len²) characters per
    # doc); referencing the attribute splits each doc once (~7× on the
    # explode pass at sf0.1).
    bg = (
        t["documents"]
        .select("doc_id", F.split(F.col("text"), " ").alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            "tk",
            F.explode(
                F.sequence(F.lit(1), F.size("tk") - 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at(F.col("tk"), F.col("i")).alias("prev"),
            F.element_at(F.col("tk"), F.col("i") + 1).alias("cur"),
        )
    )
    pair_cnt = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    # context totals as a window over the one vocab-bounded bigram-type
    # table instead of a groupBy + re-join that re-instantiated the
    # bigram explode (guide §1.2); every row joins its own prev group,
    # so the inner join kept all rows — identical values.
    lp = pair_cnt.withColumn(
        "c1", F.sum("c2").over(W.partitionBy("prev"))
    ).select(
        "prev",
        "cur",
        F.round(F.log(F.col("c2") / F.col("c1")) * 1e6)
        .cast("long")
        .alias("lp_q"),
    )
    return (
        bg.join(F.broadcast(lp), ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("lp_q") / F.count(F.lit(1)) / 1e6, 4)
            .alias("avg_logprob"),
        )
    )


@register(
    "text_chunk_overlap",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(u.idx AS BIGINT) AS chunk_idx,
           md5(u.chunk) AS chunk_md5,
           CAST(u.n AS BIGINT) AS n_tokens
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(0,
                      greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS INT) + 1),
                    1),
                    i -> {'idx': i,
                          'chunk': array_to_string(
                              toks[i*24 + 1 : i*24 + 32], ' '),
                          'n': len(toks[i*24 + 1 : i*24 + 32])}))
               AS u
      FROM t
    ) WHERE u.n > 0
    """,
    tags=("text", "chunking"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (window 32 tokens, stride 24
    → 8-token overlap) — the RAG/training text-splitting step. Pure
    array algebra (sequence + slice, no UDF): a narrow map whose output
    is keyed (doc_id, chunk_idx), ready to shard. Chunk text is emitted
    as md5 so the driver canonicalizer stays string-typed."""
    t = load_tables(spark, sf_dir, ["documents"])
    window, stride = 32, 24
    # number of stride-starts covering the token list, matching the
    # oracle's ceil((len-overlap)/stride)+1 window count minus the final
    # empty ones (filtered by n > 0 on both sides).  r11 (guide §1.3):
    # the token array is split ONCE into a column — the lambda used to
    # reference the split() expression, re-splitting per chunk slice.
    tk = F.col("tk")
    # r11 second pass (guide §1.3, measured ~9x on this idiom): explode
    # the chunk-index sequence and build each chunk as a plain codegen'd
    # projection — identical concat_ws/slice/size values, no interpreted
    # transform() lambda per chunk.
    return (
        t["documents"]
        .select("doc_id", F.split("text", " ").alias("tk"))
        .select(
            "doc_id",
            "tk",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.lit(0),
                        F.ceil(
                            (F.size(tk) - (window - stride))
                            / float(stride)
                        ).cast("int"),
                    ),
                )
            ).alias("idx"),
        )
        .select(
            "doc_id",
            "idx",
            F.concat_ws(
                " ", F.slice(tk, F.col("idx") * stride + 1, window)
            ).alias("chunk"),
            F.size(
                F.slice(tk, F.col("idx") * stride + 1, window)
            ).alias("n"),
        )
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            F.col("idx").cast("long").alias("chunk_idx"),
            F.md5(F.col("chunk")).alias("chunk_md5"),
            F.col("n").cast("long").alias("n_tokens"),
        )
    )


@register(
    "text_keyword_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    docfreq AS (SELECT tok, count(*) AS df_docs FROM tf GROUP BY tok),
    nd AS (SELECT count(*) * 1.0 AS n_docs FROM documents),
    q AS (SELECT unnest(['spark', 'join', 'fast']) AS tok),
    matched AS (
      SELECT tf.doc_id,
             count(*) AS n_matched,
             sum(tf.tf * CAST(round(ln(n_docs / df_docs) * 1e6) AS BIGINT))
               AS score_q
      FROM tf JOIN q USING (tok) JOIN docfreq USING (tok), nd
      GROUP BY tf.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_matched AS BIGINT) AS n_matched,
           round(score_q / 1e6, 4) AS score,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY score_q DESC, doc_id ASC) AS rn
      FROM matched
    ) WHERE rn <= 10
    """,
    tags=("text", "search", "retrieval"),
)
def text_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index keyword search: rank documents for a fixed query
    term set by summed tf-idf. The query-term list broadcasts onto the
    (doc, term, tf) posting table — at scale the postings are the
    inverted index, bucketed by term, and only matching postings move.
    Integer-quantized idf keeps scores engine-exact; the global top-10 is
    a TakeOrdered heap, not a sort."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents"])
    toks = t["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    n_docs = t["documents"].agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    q = spark.createDataFrame([("spark",), ("join",), ("fast",)], ["tok"])
    # r12 (guide §2.3): filter BEFORE aggregating — the broadcast query
    # join drops non-matching tokens map-side, so the tf aggregation
    # (and its exchange) is over matched postings only, not the whole
    # corpus vocabulary.  tf values for matching terms are identical.
    # (r11 had already made df a count window over the matched postings
    # instead of a second tokenize pass.)  0.56 → 0.41 s fresh noop.
    tf = (
        toks.join(F.broadcast(q), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf_q = F.round(
        F.log(F.col("n_docs") / F.col("df_docs")) * 1e6
    ).cast("long")
    matched = (
        tf.withColumn(
            "df_docs", F.count(F.lit(1)).over(W.partitionBy("tok"))
        )
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(F.col("tf") * idf_q).alias("score_q"),
        )
    )
    w = W.orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
    return (
        matched.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 10)
        .select(
            F.col("doc_id").cast("long"),
            F.col("n_matched").cast("long"),
            F.round(F.col("score_q") / 1e6, 4).alias("score"),
            "rn",
        )
    )


@register(
    "text_bm25_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT count(*) * 1.0 AS n_docs, sum(dl) * 1.0 AS sum_dl FROM dl
    ),
    q AS (SELECT unnest(['spark', 'join', 'fast']) AS tok),
    df AS (
      SELECT tok, count(*) AS df_docs FROM tf JOIN q USING (tok)
      GROUP BY tok
    ),
    scored AS (
      SELECT tf.doc_id,
             count(*) AS n_matched,
             sum(CAST(round(1e6
                   * ln(1 + (n_docs - df_docs + 0.5) / (df_docs + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                     / (sum_dl / n_docs)))) AS BIGINT))
               AS score_q
      FROM tf JOIN q USING (tok) JOIN df USING (tok)
      JOIN dl USING (doc_id), stats
      GROUP BY tf.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_matched AS BIGINT) AS n_matched,
           round(score_q / 1e6, 4) AS score,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY score_q DESC, doc_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
    tags=("text", "search", "retrieval", "bm25"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking (k1=1.2, b=0.75, Lucene idf) for a fixed query
    term set — the production keyword-relevance standard the plain
    tf-idf ranker (`text_keyword_search`) graduates to: tf saturates
    (k1) and long documents are penalized toward the corpus average
    length (b).

    Scale shape identical to the tf-idf ranker: query terms broadcast
    onto the (doc, term, tf) posting table, per-doc length and the two
    corpus scalars broadcast back, per-(doc, term) contributions are
    1e-6-quantized BIGINTs (order-free exact sums across any
    parallelism), and the global top-10 is a TakeOrdered heap."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents"])
    toks = t["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    # r11 (guide §1.2) deleted the second/third tokenize passes (df as
    # a count window over matched postings; corpus scalars from a
    # no-explode documents aggregate).  r12 (guide §2.3): filter BEFORE
    # aggregating — the broadcast query join drops non-matching tokens
    # map-side, so the tf aggregation is over matched postings only,
    # never the corpus vocabulary.  Document length consequently no
    # longer rides the (now filtered) tf table as a window; it comes
    # from the same narrow no-explode projection that already feeds the
    # corpus scalars (size(split) = the doc's token count), attached by
    # a doc-keyed join to the matched docs.  Identical contributions
    # (A/B row-equality + oracle ×3 SFs); 0.60 → 0.38 s fresh noop.
    q = spark.createDataFrame([("spark",), ("join",), ("fast",)], ["tok"])
    tf = (
        toks.join(F.broadcast(q), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dls = t["documents"].select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    stats = dls.agg(
        (F.count(F.lit(1)) * 1.0).alias("n_docs"),
        (F.sum("dl") * 1.0).alias("sum_dl"),
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df_docs") + 0.5)
        / (F.col("df_docs") + 0.5)
    )
    denom = F.col("tf") + 1.2 * (
        0.25 + 0.75 * F.col("dl") / (F.col("sum_dl") / F.col("n_docs"))
    )
    contrib = F.round(
        1e6 * idf * (F.col("tf") * 2.2) / denom
    ).cast("long")
    scored = (
        tf.withColumn(
            "df_docs", F.count(F.lit(1)).over(W.partitionBy("tok"))
        )
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(contrib).alias("score_q"),
        )
    )
    w = W.orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 10)
        .select(
            F.col("doc_id").cast("long"),
            F.col("n_matched").cast("long"),
            F.round(F.col("score_q") / 1e6, 4).alias("score"),
            "rn",
        )
    )


@register(
    "text_bpe_pair_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS pair
      FROM t
    )
    SELECT pair,
           count(*) AS pair_count,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM pairs
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 20
    """,
    tags=("text", "tokenizer", "bpe"),
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training merge statistics: the global adjacent-pair
    frequency table whose argmax is the next merge rule (the inner loop
    of byte-pair-encoding training), with document frequency alongside so
    template/boilerplate pairs (high count, low doc spread) are visible.

    The pair stream is pure array algebra (``transform`` over index
    ``sequence`` — no UDF, no shuffle until the pair aggregate); the
    aggregation map-side combines, and the top-20 is a
    TakeOrderedAndProject heap with a (count, pair) total order.  At
    100 TB this is exactly one explode + one combine-heavy aggregation
    per merge round — the distributed formulation used by tokenizer
    trainers over web-scale corpora."""
    t = load_tables(spark, sf_dir, ["documents"])
    # r11 (guide §1.3): split once into a column — the lambda used to
    # reference the split() expression, re-evaluating it per element
    # r11 second pass (guide §1.3, measured ~9x on this idiom): explode
    # the index sequence; each pair is a plain codegen'd projection.
    return (
        t["documents"]
        .select("doc_id", F.split("text", " ").alias("tk"))
        .select(
            "doc_id",
            "tk",
            F.explode(F.sequence(F.lit(1), F.size("tk") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at(F.col("tk"), F.col("i")),
                F.element_at(F.col("tk"), F.col("i") + 1),
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(
            F.count(F.lit(1)).alias("pair_count"),
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
    )


@register(
    "text_bpe_encode",
    # Iterative merge application has no SQL equivalent, so the oracle
    # JOINs each corpus word to a fixture of (word -> n_subwords)
    # produced by an independent pure-Python BPE implementation
    # (tools/make_bpe_fixture.py, zlib-fixture tradition).  The engine
    # side encodes with its OWN kernel (textan.bpe_encode_len) — the
    # hash-compare is a real cross-implementation check, additionally
    # pinned word-by-word in tests/test_pipeline_ops.py.
    oracle=f"""
    WITH words AS (
      SELECT doc_id, source, lang,
             unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    enc AS (
      SELECT w.doc_id, w.source, w.lang, w.word, f.n_subwords
      FROM words w
      JOIN read_parquet('{_BPE_WORD_TOKENS}') f USING (word)
    )
    SELECT source, lang,
           count(DISTINCT doc_id) AS n_docs,
           count(*) FILTER (WHERE word <> '') AS n_words,
           CAST(sum(n_subwords) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_subwords) * 10000
                // NULLIF(count(*) FILTER (WHERE word <> ''), 0)
                AS BIGINT) AS fertility_x1e4
    FROM enc
    GROUP BY source, lang
    """,
    tags=("text", "tokenizer", "bpe", "udf"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with a pre-trained BPE merge table (Sennrich
    et al. 2016): per (source, lang), document/word counts, total BPE
    tokens, and fertility (subwords per word, ×1e4 integer — engine-exact
    division).  The token-accounting pass every training-data pipeline
    runs before packing/budgeting.

    Scale shape: the 20-rule merge table is a tiny trained artifact
    (read once, shipped in the UDF closure); the imperative merge loop
    runs only over the DISTINCT word vocabulary (sublinear in corpus
    size), and the corpus-sized word stream pays one broadcast hash join
    against the encoded vocab plus one partial aggregation.  At 100 TB
    the Python kernel's cost is O(vocabulary), not O(corpus) — the same
    reason production tokenizers memoize word→pieces."""
    t = load_tables(spark, sf_dir, ["documents"])
    merges_rows = sorted(
        read_parquet(spark, _BPE_MERGES).collect(), key=lambda r: r["rank"]
    )
    merges = [(r["left"], r["right"]) for r in merges_rows]
    words = t["documents"].select(
        "doc_id", "source", "lang",
        F.explode(F.split("text", " ")).alias("word"),
    )
    vocab = words.select("word").distinct()
    enc = textan.bpe_encode_vocab(vocab, merges)
    n_words = F.count(F.when(F.col("word") != "", F.lit(1)))
    return (
        words.join(F.broadcast(enc), "word")
        .groupBy("source", "lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            n_words.alias("n_words"),
            F.sum("n_subwords").cast("long").alias("bpe_tokens"),
        )
        .select(
            "source", "lang", "n_docs", "n_words", "bpe_tokens",
            F.expr(
                "CAST((bpe_tokens * 10000) DIV nullif(n_words, 0) AS BIGINT)"
            ).alias("fertility_x1e4"),
        )
    )


CMS_ORACLE = """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
    sketch AS (
      SELECT r,
             ('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || ':' || tok),
                             1, 8))::BIGINT % 512 AS bucket,
             count(*) AS cell
      FROM toks, rows_
      GROUP BY 1, 2
    ),
    exact AS (SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok),
    est AS (
      SELECT e.tok, min(s.cell) AS cms_est
      FROM exact e, rows_ r
      JOIN sketch s
        ON s.r = r.r
       AND s.bucket = ('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR)
                        || ':' || e.tok), 1, 8))::BIGINT % 512
      GROUP BY e.tok
    )
    SELECT est.tok AS tok,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(cms_est - exact_count AS BIGINT) AS overcount
    FROM est JOIN exact ON est.tok = exact.tok
    ORDER BY cms_est DESC, tok
    LIMIT 15
    """


@register(
    "text_heavy_hitters_cms",
    oracle=CMS_ORACLE,
    tags=("text", "sketch", "count-min", "heavy-hitters"),
)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters: a 4-row × 512-bucket CMS summed
    from the (token, count) vocabulary aggregate (one pass over the
    token stream; r11), then candidate tokens ranked by their
    min-over-rows cell estimate, reported next to the exact count so
    the sketch's one-sided overcount is visible.

    The sketch is 2,048 cells regardless of corpus size — the token
    stream map-side combines into it, so what crosses the exchange is
    bounded by (rows × width), not by token volume.  Estimation joins
    the candidate set against the broadcast sketch.  At 100 TB the
    candidate set comes from a per-partition top-k heap instead of the
    exact vocabulary (used here so the oracle can verify the estimate
    lattice cell-for-cell); the md5-derived row hashes make the sketch
    bit-identical across engines and re-runs."""
    from multisql_spark.operators import spread

    t = load_tables(spark, sf_dir, ["documents"])
    toks = spread(
        t["documents"].select("doc_id", "text"), key="doc_id"
    ).select(F.explode(F.split("text", " ")).alias("tok"))
    rows_ = F.array([F.lit(r) for r in range(4)])

    def bucket_of(tok_col, r_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("cms"),
                            r_col.cast("string"),
                            F.lit(":"),
                            tok_col,
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 512
        )

    # r11 (guide §1.2): the sketch builds from the VOCABULARY table,
    # not the token stream — a CMS cell is the occurrence count of the
    # tokens hashing into it, i.e. Σ exact_count over the bucket's
    # members, so summing the (tok, count) aggregate gives the
    # identical 2 048-cell lattice while the 4-row md5 hashing runs
    # over |vocab| rows instead of every token occurrence.  The same
    # hashed-vocab lineage serves as the probe set (it was rebuilt
    # separately before), so the token stream is read ONCE (for the
    # exact counts) instead of twice.
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    hashed = exact.select(
        "tok", "exact_count", F.explode(rows_).alias("r")
    ).withColumn("bucket", bucket_of(F.col("tok"), F.col("r")))
    sketch = hashed.groupBy("r", "bucket").agg(
        F.sum("exact_count").alias("cell")
    )
    est = (
        hashed.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("tok")
        .agg(F.min("cell").alias("cms_est"))
    )
    return (
        est.join(exact, "tok")
        .select(
            "tok",
            F.col("cms_est").cast("long").alias("cms_est"),
            F.col("exact_count").cast("long").alias("exact_count"),
            (F.col("cms_est") - F.col("exact_count"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy(F.desc("cms_est"), F.asc("tok"))
        .limit(15)
    )


@register(
    "text_oov_rate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (
          ORDER BY count(*) DESC, tok
        ) AS rn
        FROM toks GROUP BY tok
      ) WHERE rn <= 256
    )
    SELECT t.doc_id AS doc_id,
           any_value(t.source) AS source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
    tags=("text", "tokenizer", "oov"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-document out-of-vocabulary
    rate against the corpus's own top-256 token vocabulary — the audit
    run before committing to a tokenizer/vocab size (high OOV → wasted
    UNK mass; near-zero OOV → vocab could shrink).

    The vocabulary is a bounded aggregation (distinct tokens) ranked
    with a (count, token) total order and broadcast back as a LEFT join
    onto the token stream — membership never shuffles the corpus.  The
    vocab ranking windows over the VOCABULARY (bounded), not over
    token instances, so the only data-scale operations are two
    map-side-combined aggregations."""
    t = load_tables(spark, sf_dir, ["documents"])
    toks = t["documents"].select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(256)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(
                    F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("oov_rate"),
        )
    )


@register(
    "text_quality_quantile_norm",
    oracle="""
    WITH q AS (
      SELECT doc_id, source,
             CAST(floor(len(list_distinct(string_split(text, ' ')))
                  * 10000.0 / len(string_split(text, ' '))) AS BIGINT)
               AS score_q
      FROM documents
    ),
    per_score AS (
      SELECT source, score_q, count(*) AS c
      FROM q GROUP BY source, score_q
    ),
    ranked AS (
      SELECT source, score_q,
             COALESCE(sum(c) OVER (
               PARTITION BY source ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before,
             sum(c) OVER (PARTITION BY source) AS n_src
      FROM per_score
    )
    SELECT q.doc_id AS doc_id, q.source AS source, q.score_q AS score_q,
           CASE WHEN r.n_src > 1
                THEN round(r.cum_before / (r.n_src - 1.0), 6)
                ELSE 0.0 END AS pct_norm
    FROM q JOIN ranked r
      ON q.source = r.source AND q.score_q = r.score_q
    """,
    tags=("text", "quality", "quantile-normalization"),
)
def text_quality_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a quality score: each
    document's score becomes its percent-rank WITHIN its source — the
    fair-mixing transform when sources have incomparable raw score
    distributions (a 0.7 from a clean source ≠ a 0.7 from a noisy one).

    percent_rank needs ranks but NEVER a per-source sort of documents:
    scores quantize to 1e-4 integers, tie groups aggregate to one row
    per (source, distinct score), and the ordered pass runs over that
    bounded table only; documents get their normalized score back via a
    broadcast join on (source, score_q).  Ties share a rank
    (min-rank/(n−1) — percent_rank's definition), so the result is
    repartition-stable."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents"])
    toks = F.split("text", " ")
    q = t["documents"].select(
        "doc_id",
        "source",
        F.floor(
            F.size(F.array_distinct(toks)) * 10000.0 / F.size(toks)
        )
        .cast("long")
        .alias("score_q"),
    )
    per_score = q.groupBy("source", "score_q").agg(
        F.count(F.lit(1)).alias("c")
    )
    asc = (
        W.partitionBy("source")
        .orderBy("score_q")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = per_score.select(
        "source",
        "score_q",
        F.coalesce(F.sum("c").over(asc), F.lit(0)).alias("cum_before"),
        F.sum("c").over(W.partitionBy("source")).alias("n_src"),
    )
    return q.join(F.broadcast(ranked), ["source", "score_q"]).select(
        "doc_id",
        "source",
        "score_q",
        F.when(
            F.col("n_src") > 1,
            F.round(F.col("cum_before") / (F.col("n_src") - 1.0), 6),
        )
        .otherwise(0.0)
        .alias("pct_norm"),
    )


@register(
    "text_novelty_rate",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    ng AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' ')))) AS g
      FROM t WHERE len(toks) >= 4
    ),
    firsts AS (SELECT g, min(doc_id) AS first_doc FROM ng GROUP BY g)
    SELECT n.doc_id AS doc_id,
           count(*) AS n_ngrams,
           CAST(sum(CASE WHEN f.first_doc = n.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = n.doc_id THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS novelty_rate
    FROM ng n JOIN firsts f ON n.g = f.g
    GROUP BY n.doc_id
    """,
    tags=("text", "novelty", "diversity"),
)
def text_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document (in ingestion order = doc_id),
    the fraction of its distinct 3-grams that NO earlier
    document contains — the diminishing-returns signal data-collection
    teams watch (novelty → 0 means more of the same source adds nothing).

    First-occurrence attribution is one grouped MIN over the exploded
    distinct n-gram stream (map-side combinable); each document then
    compares its n-grams' first_doc against itself via a keyed join —
    no ordered scan, no window over data-scale rows, and the n-gram
    table is the same shuffle the dedup/chunk family already pays."""
    t = load_tables(spark, sf_dir, ["documents"])
    # r11 second pass (guide §1.3, measured 2.3x end-to-end): explode
    # the index sequence and build each 3-gram as a plain codegen'd
    # projection; the per-doc distinct becomes a map-side-combining
    # dropDuplicates on (doc_id, g) — the same (doc_id, g) row set the
    # interpreted transform + array_distinct produced.
    ng = (
        t["documents"]
        .select("doc_id", F.split("text", " ").alias("tk"))
        .filter(F.size("tk") >= 4)
        .select(
            "doc_id",
            "tk",
            F.explode(F.sequence(F.lit(0), F.size("tk") - 3)).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at(F.col("tk"), F.col("i") + 1),
                F.element_at(F.col("tk"), F.col("i") + 2),
                F.element_at(F.col("tk"), F.col("i") + 3),
            ).alias("g"),
        )
        .dropDuplicates(["doc_id", "g"])
    )
    # r11 (guide §1.2, measured 1.24x at derived sf10 and one less
    # join): first-occurrence attribution as min-over-window on the
    # same g exchange the firsts aggregate needed anyway — no join
    # back, no second lineage; row set proven identical.
    from pyspark.sql import Window as W

    return (
        ng.withColumn(
            "first_doc", F.min("doc_id").over(W.partitionBy("g"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
            F.round(
                F.sum(
                    F.when(
                        F.col("first_doc") == F.col("doc_id"), 1
                    ).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("novelty_rate"),
        )
    )


@register(
    "text_compression_ratio",
    # zlib has no SQL equivalent, so the oracle JOINs a fixture parquet
    # of (md5(text) -> ratio) produced by direct Python zlib with no
    # Spark/engine import (tools/make_zlib_fixture.py — the
    # heavy_oracle.py independent-reimplementation tradition).  Texts in
    # derived scale dirs are verbatim copies of the base sf texts
    # (make_scaled_sf offsets keys only), so coverage holds there too.
    # Exactness vs in-process zlib is additionally pinned by
    # tests/test_pipeline_ops.py::test_compression_ratio_matches_python.
    oracle=f"""
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(d.n_chars AS BIGINT) AS n_chars,
           f.compress_ratio,
           f.compress_ratio < 0.3 AS is_templated
    FROM documents d
    JOIN read_parquet('{_ZLIB_FIXTURE}') f
      ON md5(d.text) = f.text_md5
    """,
    tags=("text", "quality", "compression", "udf"),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style compression-ratio filter via an Arrow-batched pandas
    UDF — the honest use of the UDF slow path (zlib is imperative), run
    in the scan stage so only (id, ratio) crosses any exchange."""
    t = load_tables(spark, sf_dir, ["documents"])
    return textan.compression_ratio(t["documents"])


@register(
    "text_keyphrase_rake",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, i AS p, toks[i] AS tok,
             toks[i] IN ('the', 'a', 'of', 'and') AS is_stop
      FROM t, unnest(range(1, len(toks) + 1)) AS r(i)
    ),
    seg AS (
      SELECT doc_id, p, tok, is_stop,
             count(*) FILTER (is_stop) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS phrase_id
      FROM pos
    ),
    phr AS (
      SELECT doc_id, phrase_id,
             string_agg(tok, ' ' ORDER BY p) AS phrase,
             count(*) AS plen
      FROM seg WHERE NOT is_stop
      GROUP BY doc_id, phrase_id
    ),
    wstat AS (
      SELECT s.tok,
             count(*) AS freq,
             sum(ph.plen) AS degree
      FROM seg s
      JOIN phr ph ON ph.doc_id = s.doc_id AND ph.phrase_id = s.phrase_id
      WHERE NOT s.is_stop
      GROUP BY s.tok
    ),
    wscore AS (
      SELECT tok,
             CAST(floor(degree * 1000000.0 / freq) AS BIGINT) AS ws_q
      FROM wstat
    ),
    pscore AS (
      SELECT ph.phrase,
             count(*) AS n_occurrences,
             any_value(sc.ps_q) AS score_q
      FROM phr ph
      JOIN (
        SELECT s.doc_id, s.phrase_id, sum(w.ws_q) AS ps_q
        FROM seg s JOIN wscore w ON s.tok = w.tok
        WHERE NOT s.is_stop
        GROUP BY s.doc_id, s.phrase_id
      ) sc ON sc.doc_id = ph.doc_id AND sc.phrase_id = ph.phrase_id
      GROUP BY ph.phrase
    )
    SELECT phrase,
           CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(score_q AS BIGINT) AS score_q
    FROM pscore
    ORDER BY score_q DESC, phrase
    LIMIT 15
    """,
    tags=("text", "keyphrase", "rake"),
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-delimited token runs; each word scores
    degree/frequency (degree = Σ lengths of phrases containing it);
    a phrase scores the sum of its words' scores.  Top-15 corpus
    keyphrases with occurrence counts.

    Phrase segmentation is a per-document running stopword count — a
    window PARTITIONED by doc_id (high-cardinality → scale-safe), never
    a global sort; word and phrase statistics are two vocabulary- and
    phrase-bounded aggregations.  Word scores quantize to 1e-6 integers
    so phrase scores are order-free integer sums; the final top-15 is a
    heap with a (score, phrase) total order."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents"])
    pos = t["documents"].select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p", "tok"),
    ).withColumn(
        "is_stop", F.col("tok").isin("the", "a", "of", "and")
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    seg = pos.withColumn(
        "phrase_id",
        F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(w),
    )
    words = seg.filter(~F.col("is_stop"))
    phr = words.groupBy("doc_id", "phrase_id").agg(
        F.concat_ws(" ", F.array_sort(
            F.collect_list(F.struct("p", "tok"))
        ).getField("tok")).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    wstat = (
        words.join(phr, ["doc_id", "phrase_id"])
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
    )
    wscore = wstat.select(
        "tok",
        F.floor(F.col("degree") * 1000000.0 / F.col("freq"))
        .cast("long")
        .alias("ws_q"),
    )
    sc = (
        words.join(F.broadcast(wscore), "tok")
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("ws_q").alias("ps_q"))
    )
    return (
        phr.join(sc, ["doc_id", "phrase_id"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.first("ps_q").alias("score_q"),
        )
        .select(
            "phrase",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("score_q").cast("long").alias("score_q"),
        )
        .orderBy(F.desc("score_q"), F.asc("phrase"))
        .limit(15)
    )


@register(
    "text_bigram_kneser_ney",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, u.prev AS prev, u.cur AS cur FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> {'prev': toks[i], 'cur': toks[i + 1]})) AS u
        FROM t WHERE len(toks) >= 2
      )
    ),
    pair_cnt AS (SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY prev, cur),
    ctx AS (
      SELECT prev, sum(c2) AS c1, count(*) AS n_follow
      FROM pair_cnt GROUP BY prev
    ),
    cont AS (SELECT cur, count(*) AS n_prec FROM pair_cnt GROUP BY cur),
    ntypes AS (SELECT count(*) * 1.0 AS nt FROM pair_cnt),
    lp AS (
      SELECT p.prev, p.cur,
             CAST(round(ln(
               greatest(p.c2 - 0.75, 0) / c.c1
               + 0.75 * c.n_follow / c.c1 * (k.n_prec / ntypes.nt)
             ) * 1e6) AS BIGINT) AS lp_q
      FROM pair_cnt p
      JOIN ctx c ON c.prev = p.prev
      JOIN cont k ON k.cur = p.cur
      CROSS JOIN ntypes
    )
    SELECT bg.doc_id AS doc_id,
           count(*) AS n_bigrams,
           round(sum(lp.lp_q) / count(*) / 1e6, 4) AS avg_logprob_kn
    FROM bg JOIN lp ON lp.prev = bg.prev AND lp.cur = bg.cur
    GROUP BY bg.doc_id
    """,
    tags=("text", "lm", "kneser-ney"),
)
def text_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney-smoothed bigram scoring (absolute discount D = 0.75):
    P(w|u) = max(c(u,w)−D, 0)/c(u) + D·N₁₊(u·)/c(u) · N₁₊(·w)/N_types —
    the continuation-probability backoff that makes KN the standard
    n-gram smoother (a word seen after MANY contexts backs off high,
    "Francisco" backs off low no matter how frequent).  Per-doc mean
    log-prob under the corpus's own KN model — the perplexity filter
    upgrade over `text_bigram_logprob`'s MLE.

    Every model table (bigram types, context totals, continuation
    counts) is vocabulary-bounded, built map-side-combined, and
    broadcast back onto the bigram stream; per-TYPE log-probs quantize
    to 1e-6 BIGINTs so per-doc scores are order-free integer sums."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents"])
    # r11 (guide §1.3): split materialized once as a column — the old
    # lambda referenced the split() expression, re-evaluating it per
    # element (O(len²) chars/doc; ~7× on the explode pass at sf0.1).
    bg = (
        t["documents"]
        .select("doc_id", F.split(F.col("text"), " ").alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            "tk",
            F.explode(
                F.sequence(F.lit(1), F.size("tk") - 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at(F.col("tk"), F.col("i")).alias("prev"),
            F.element_at(F.col("tk"), F.col("i") + 1).alias("cur"),
        )
    )
    pair_cnt = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    # r11 (guide §1.2): all three model tables as windows over the ONE
    # vocab-bounded bigram-type table — the groupBy+join shape
    # re-instantiated the bigram explode once per model table (ctx,
    # cont, ntypes, lp base = 4 passes; divergent column pruning
    # defeated AQE exchange reuse).  The global count window runs over
    # the same vocabulary-bounded table the query already broadcasts
    # back whole (plans.GLOBAL_WINDOW_ALLOWLIST argues the bound); the
    # inner joins kept every row (each row matches its own group), so
    # the window values are identical.
    lp = (
        pair_cnt.withColumn("c1", F.sum("c2").over(W.partitionBy("prev")))
        .withColumn(
            "n_follow", F.count(F.lit(1)).over(W.partitionBy("prev"))
        )
        .withColumn("n_prec", F.count(F.lit(1)).over(W.partitionBy("cur")))
        .withColumn(
            "nt", F.count(F.lit(1)).over(W.partitionBy()) * 1.0
        )
        .select(
            "prev",
            "cur",
            F.round(
                F.log(
                    F.greatest(F.col("c2") - 0.75, F.lit(0.0)) / F.col("c1")
                    + 0.75
                    * F.col("n_follow")
                    / F.col("c1")
                    * (F.col("n_prec") / F.col("nt"))
                )
                * 1e6
            )
            .cast("long")
            .alias("lp_q"),
        )
    )
    return (
        bg.join(F.broadcast(lp), ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("lp_q") / F.count(F.lit(1)) / 1e6, 4)
            .alias("avg_logprob_kn"),
        )
    )


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH scored AS ({_langid_oracle()})
    SELECT labeled_lang, predicted_lang,
           count(*) AS n,
           CAST(sum(CASE WHEN labeled_lang = predicted_lang
                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM scored
    GROUP BY 1, 2
    """,
    tags=("text", "langid", "evaluation", "confusion"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled × predicted counts over the
    marker-token classifier — the evaluation artifact that decides
    whether the heuristic is good enough to gate ingestion per language
    (off-diagonal mass shows exactly WHICH language pairs it confuses).

    One bounded aggregation over the classifier's output (≤|langs|²
    rows); the classification itself is the same pure-codegen argmax as
    `text_langid`."""
    t = load_tables(spark, sf_dir, ["documents"])
    scored = textan.lang_id(t["documents"])
    return scored.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("labeled_lang") == F.col("predicted_lang"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )
