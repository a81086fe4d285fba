"""Text-analysis operators for training-data pipelines (beyond-reference,
BASELINE.json): language-ID, quality scoring, token counting, document
fingerprinting.

Everything here is pure JVM-side column algebra (split / array ops / md5 /
length arithmetic) — no Python UDFs in the hot path, so whole-stage codegen
applies and the operators scale linearly with input bytes. Where a
counting trick is needed (e.g. substring occurrences), both engines use
the identical length-difference formulation so the DuckDB oracle
hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic per-language marker sets for the n-gram/stopword heuristic
# (on natural-language corpora these would be real stopwords; the synthetic
# corpus shares one vocabulary, so the heuristic stays deterministic)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "de": ("der", "die", "und", "vector"),
    "es": ("el", "la", "los", "scan"),
    "fr": ("le", "la", "les", "window"),
    "zh": ("de", "shi", "bu", "join"),
}


def token_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Whitespace token counts + a BPE-ish subword estimate (≈ chars/4,
    the usual byte-pair heuristic).

    r11 (guide §2.2): the per-row split/array_distinct work is CPU-bound,
    so fan the narrow projection out with scale-adaptive ``spread`` —
    a single-row-group local file otherwise pins the whole map to one
    core (0.075 s → 0.035 s warm at sf0.1); at cluster scale the scan
    already parallelizes and spread is a no-op."""
    from multisql_spark.operators import spread

    df = spread(df.select(id_col, "text"), key=id_col)
    toks = F.split(F.col("text"), " ")
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars_text"),
        F.round(
            (F.length("text") - F.size(toks) + 1)
            / F.size(toks).cast("double"),
            4,
        ).alias("avg_token_len"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_bpe_tokens"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Composite quality score from length, lexical diversity and
    stopword ratio — the standard cheap pre-filter before expensive
    dedup/embedding stages."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    ).cast("double")
    diversity = F.size(F.array_distinct(toks)) / n
    len_score = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    stop_ratio = stop_hits / n
    return df.select(
        F.col(id_col),
        F.round(len_score, 4).alias("len_score"),
        F.round(diversity, 4).alias("diversity"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(
            (len_score + diversity + F.least(stop_ratio * 5, F.lit(1.0)))
            / 3.0,
            4,
        ).alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Marker-token scoring per language; prediction = argmax with
    alphabetical tie-break. Returns per-doc scores + prediction."""
    toks = F.split(F.col("text"), " ")

    def marker_score(markers: tuple[str, ...]):
        # NB: the lambda must be unary — F.filter treats binary lambdas
        # as (element, index)
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {
        lang: marker_score(markers) for lang, markers in LANG_MARKERS.items()
    }
    # argmax with (score desc, lang asc) tie-break: first lang in
    # ascending order that reaches the max score
    mx = F.greatest(*scores.values())
    best = None
    for lang in sorted(LANG_MARKERS):
        if best is None:
            best = F.when(scores[lang] == mx, F.lit(lang))
        else:
            best = best.when(scores[lang] == mx, F.lit(lang))
    out = df.select(
        F.col(id_col),
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(LANG_MARKERS)],
        best.alias("predicted_lang"),
    )
    return out


def fingerprints(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: exact (md5 of text), set (md5 of sorted
    distinct tokens — catches token reorderings), and min-shingle
    (lexicographic-min md5 over 3-token shingles — a 1-row winnowing
    sketch).

    Every input row keeps exactly one output row.  The min-shingle is
    aggregated per ``id_col`` value (NULL is one value), so rows that
    share an id share the minimum over all their shingles; with the
    documents PK as the id it is each document's own."""
    # r11 (guide §1.3): the token array is split ONCE into a column —
    # referencing the split() expression inside the transform() lambda
    # re-evaluated it per shingle (O(len²) characters per doc).
    # Second r11 pass (measured 104.6 -> ~35 s at derived sf10): the
    # min-shingle ran as an interpreted transform() + array_min per
    # doc; exploding the shingle index and taking MIN in a groupBy
    # computes the identical md5(concat_ws(slice)) values with the
    # min map-side-combined.
    # r12 (guide §1.3/§7.2): fp_exact/fp_set must NOT ride the explode
    # as group keys — CollapseProject pushes their projection BELOW the
    # aggregate but PAST the Generate, so the interpreted array_sort
    # comparator re-ran per shingle row (O(len·log len) lambda calls ×
    # shingles: measured 3.5 s fresh-plan noop at sf0.1). They are now
    # a separate per-doc projection joined back on the id — one narrow
    # ~|docs|-row exchange; values identical (A/B row-equality checked).
    tk = F.col("tk")
    base = df.select(
        F.col(id_col), "text", F.split(F.col("text"), " ").alias("tk")
    )
    fps = base.select(
        F.col(id_col),
        F.md5("text").alias("fp_exact"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tk)))
        ).alias("fp_set"),
    )
    sh = (
        base.select(
            F.col(id_col),
            "tk",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size(tk) - 2, F.lit(1)))
            ).alias("_i"),
        )
        .select(
            F.col(id_col),
            F.md5(
                F.concat_ws(" ", F.slice(tk, F.col("_i"), 3))
            ).alias("_sh"),
        )
        .groupBy(id_col)
        .agg(F.min("_sh").alias("fp_min_shingle"))
    )
    # a left join from the per-row side, null-safe on the id: a NULL id
    # matches its own group, and each row meets one aggregate row
    f, s = fps.alias("f"), sh.alias("s")
    return f.join(
        s, F.col(f"f.{id_col}").eqNullSafe(F.col(f"s.{id_col}")), "left"
    ).select(f"f.{id_col}", "fp_exact", "fp_set", "fp_min_shingle")


def normalize_text(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Canonical text normalization for dedup keys: lowercase, strip
    punctuation to spaces, collapse whitespace runs, trim. Pure codegen
    column ops — a narrow map at any scale. Returns (id, norm_text,
    norm_hash)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    return df.select(
        F.col(id_col).cast("long").alias(id_col),
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_hash"),
    )


def redact_pii(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Regex PII scrubbing (emails, long digit runs, @handles) with
    per-document hit counts — the pre-training scrub pass. regexp_replace
    / regexp_count are JVM codegen; no Python in the row path. Returns
    (id, clean_text, n_emails, n_numbers, n_handles)."""
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    digits = r"\b\d{7,}\b"
    handle = r"(^|\s)@[a-zA-Z0-9_]+"
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), email, "<EMAIL>"),
            digits,
            "<NUM>",
        ),
        handle,
        " <HANDLE>",
    )
    return df.select(
        F.col(id_col).cast("long").alias(id_col),
        clean.alias("clean_text"),
        F.regexp_count(F.col(text_col), F.lit(email)).alias("n_emails"),
        F.regexp_count(F.col(text_col), F.lit(digits)).alias("n_numbers"),
        F.regexp_count(F.col(text_col), F.lit(handle)).alias("n_handles"),
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Repetition-based quality filters (the Gopher/C4 family): fraction
    of mass in the single most frequent token, and fraction of duplicate
    word bigrams. High values flag boilerplate / degenerate text before
    the expensive dedup and embedding stages.

    Token counting is the explode → groupBy formulation — partial
    aggregation keeps the shuffle at (doc, token) cardinality; the bigram
    dedup is per-row array algebra (codegen, no shuffle at all).
    """
    toks = F.split(F.col("text"), " ")
    per_tok = df.select(
        F.col(id_col), F.explode(toks).alias("tok")
    )
    counts = per_tok.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = counts.groupBy(id_col).agg(
        F.round(
            F.max("c") / F.sum("c").cast("double"), 4
        ).alias("top_token_frac")
    )
    bigrams = F.expr(
        "zip_with(slice(_toks, 1, size(_toks) - 1),"
        "         slice(_toks, 2, size(_toks) - 1),"
        "         (a, b) -> concat(a, ' ', b))"
    )
    dup = (
        df.withColumn("_toks", toks)
        .withColumn("_bg", bigrams)
        .select(
            F.col(id_col),
            F.when(
                F.size("_bg") > 0,
                F.round(
                    1
                    - F.size(F.array_distinct("_bg"))
                    / F.size("_bg").cast("double"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_bigram_frac"),
        )
    )
    return top.join(dup, id_col)


def contamination(
    df: DataFrame,
    bench_filter,
    n: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per-document overlap of word ``n``-grams
    with a held-out benchmark set (here: rows matching ``bench_filter``).
    The standard pre-training hygiene step — any document sharing n-grams
    with an eval set is flagged for exclusion.

    The benchmark n-gram set is deduplicated and broadcast (eval sets are
    tiny next to the corpus); the corpus side streams through one explode
    + one broadcast hash join + one partial-aggregated groupBy — no
    corpus-side shuffle of text, and at 100 TB the join key would be a
    64-bit hash of the n-gram instead of the string.

    Documents shorter than ``n`` tokens have no n-grams and drop out
    (mirrored by the oracle's ``unnest`` of an empty list).
    """
    from multisql_spark.operators import spread

    # r11 (guide §2.2/§1.3): fan the narrow projection out before the
    # n-gram build (a single-row-group local file pins the whole map to
    # one core; no-op on real multi-split tables), and gate short
    # documents on size(_toks) >= n BEFORE building n-grams (sub-n docs
    # drop out in both engines).  Second r11 pass (measured 9x): the
    # n-gram array was built with an interpreted transform() lambda and
    # immediately exploded — exploding the INDEX sequence instead and
    # building each n-gram as a plain codegen'd projection computes the
    # identical concat_ws(' ', slice(_toks, i, n)) strings without the
    # per-element lambda machinery (fresh-plan A/B at sf0.1:
    # 1.90 -> 0.21 s for the build+explode stage).
    base = (
        spread(df, key=id_col)
        .withColumn("_toks", F.split(F.col("text"), " "))
        .filter(F.size("_toks") >= n)
    )

    def ngrams(src: DataFrame) -> DataFrame:
        return src.select(
            F.col(id_col),
            "_toks",
            F.explode(
                F.sequence(F.lit(1), F.size("_toks") - (n - 1))
            ).alias("_i"),
        ).select(
            F.col(id_col),
            F.concat_ws(
                " ", F.slice(F.col("_toks"), F.col("_i"), n)
            ).alias("g"),
        )

    bench = (
        ngrams(base.filter(bench_filter))
        .select("g")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = ngrams(base.filter(~bench_filter))
    return (
        corpus.join(F.broadcast(bench), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_ngrams").cast("double"), 4)
            .alias("contam_frac"),
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


# Fixed weights for the linear quality classifier (fastText/C4-style cheap
# model): trained-model coefficients are deployment constants, so they are
# pinned here and mirrored verbatim in the SQL oracle.
QUALITY_MODEL = {
    "bias": -1.5,
    "len_score": 2.2,
    "diversity": 1.8,
    "stop_score": 1.2,
}


def quality_logit_expr():
    """The quality model's quantized logit as a reusable Column over a
    ``text`` column — shared by the scoring query and the end-to-end
    corpus-prep pipeline."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    ).cast("double")
    diversity = F.size(F.array_distinct(toks)) / n
    len_score = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stop_hits / n * 5, F.lit(1.0))
    w = QUALITY_MODEL
    return F.round(
        F.lit(w["bias"])
        + F.lit(w["len_score"]) * len_score
        + F.lit(w["diversity"]) * diversity
        + F.lit(w["stop_score"]) * stop_score,
        6,
    )


# the same logit in DuckDB SQL, over a relation exposing (text)
QUALITY_LOGIT_SQL = """
    round(-1.5 + 2.2 * least(length(text) / 500.0, 1.0)
              + 1.8 * (len(list_distinct(string_split(text, ' ')))
                       / (len(string_split(text, ' ')) * 1.0))
              + 1.2 * least(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and')))
                    / (len(string_split(text, ' ')) * 1.0) * 5, 1.0), 6)
"""


def quality_model_score(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixed-weight linear quality model + logistic calibration — the
    cheap learned-filter stage (fastText-style) that gates expensive
    dedup/embedding work in training-data pipelines.

    Pure codegen column algebra over the same features `quality_score`
    computes; no UDF, no shuffle (narrow map at any scale).  Cross-engine
    determinism: the logit is quantized to 1e-6 BEFORE the exp so both
    engines round the same value, and the keep decision depends only on
    the logit's sign (exact)."""
    z = quality_logit_expr()
    return df.select(
        F.col(id_col),
        z.alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("score"),
        (z > 0).alias("keep"),
    )


def unigram_logprob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus-unigram language-model scoring: per-doc mean log-probability
    under the corpus's own token distribution — the cheap LM-quality
    filter (low scores = rare-token noise) used before expensive
    perplexity models.

    Plan shape: the vocabulary count is a bounded aggregation; the
    frequency table broadcasts back onto the token stream (vocab ≪
    corpus), so no wide shuffle of token occurrences ever happens — the
    per-doc mean is one groupBy(doc) of (id, int) pairs.  Determinism:
    each token's log-prob quantizes to 1e-6 (exact BIGINT), sums are
    integer-exact and order-free, matching DuckDB bit-for-bit.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").cast("double").alias("total"))
    lp_q = F.round(
        F.log(F.col("cnt") / F.col("total")) * 1e6
    ).cast("long")
    scored = toks.join(
        F.broadcast(freq.crossJoin(F.broadcast(tot))), "tok"
    ).select(F.col(id_col), lp_q.alias("lp_q"))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum("lp_q") / F.count(F.lit(1)) / 1e6, 4
        ).alias("avg_logprob"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", top: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf — the standard
    keyword/topic fingerprint for corpus exploration and clustering
    features.

    idf quantizes to a 1e-6 BIGINT so the per-term score tf*idf_q stays
    in exact integer math; ranking ties break lexicographically.  The
    document-frequency table is vocab-bounded and broadcasts; the only
    wide operation is the per-doc window, partitioned on the (high
    cardinality) doc id.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df_docs")
    )
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf_q = F.round(
        F.log(F.col("n_docs") / F.col("df_docs")) * 1e6
    ).cast("long")
    scored = tf.join(
        F.broadcast(docfreq.crossJoin(F.broadcast(n_docs))), "tok"
    ).select(
        F.col(id_col),
        "tok",
        "tf",
        (F.col("tf") * idf_q).alias("score_q"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_q").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top)
        .select(
            F.col(id_col),
            F.col("rnk"),
            "tok",
            "tf",
            F.round(F.col("score_q") / 1e6, 4).alias("tfidf"),
        )
    )


def compression_ratio(docs: DataFrame) -> DataFrame:
    """Compression-ratio quality signal (Gopher-family): highly
    compressible text is repetitive/templated; ratio ≈ 1 is high-entropy
    (or non-text).  zlib runs in an Arrow-batched pandas UDF — the
    documented slow path, used here because the kernel is genuinely
    imperative; everything around it (projection, filtering, the
    aggregate consumers) stays JVM-side, and the UDF runs in the scan
    stage BEFORE any exchange so only (id, 2 numbers) ever shuffles."""
    from pyspark.sql.functions import pandas_udf

    # NB: the module uses postponed annotations, so type hints arrive as
    # strings and pandas_udf cannot infer the eval type from them — the
    # hint-free form with an eval-type constant is the stable spelling
    from pyspark.util import PythonEvalType

    @pandas_udf("double", PythonEvalType.SQL_SCALAR_PANDAS_UDF)
    def _ratio(texts):
        import zlib

        def one(t: str) -> float:
            if not t:
                return 1.0
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, 6)) / len(raw), 4)

        return texts.map(one)

    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        _ratio(F.col("text")).alias("compress_ratio"),
    ).withColumn("is_templated", F.col("compress_ratio") < 0.3)


def bpe_encode_len(word: str, merges: list) -> int:
    """Subword count of ``word`` under a ranked BPE merge table
    (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare
    Words with Subword Units"): one left-to-right replacement pass per
    merge, applied in rank order.  Pure function so the vectorized
    encoder below and the tests can share it; the SQL-oracle fixture is
    generated by an INDEPENDENT implementation of the same contract
    (tools/make_bpe_fixture.py) with no import in either direction."""
    if not word:
        return 0
    sym = list(word)
    for a, b in merges:
        out, i, n = [], 0, len(sym)
        while i < n:
            if i < n - 1 and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return len(sym)


def bpe_encode_vocab(vocab: DataFrame, merges: list) -> DataFrame:
    """(word) → (word, n_subwords) via an Arrow-batched pandas UDF with
    the merge table captured in the closure (broadcast with the task —
    a trained tokenizer's merge list is a tiny shared artifact).

    This is the 100 TB shape for corpus tokenization: the imperative
    merge loop runs over the DISTINCT WORD VOCABULARY — sublinear in
    corpus size and cacheable across batches — and the corpus-sized side
    only ever pays a broadcast hash join against the encoded vocab.
    Tokenizing per occurrence would run the Python kernel O(corpus)
    times for identical inputs."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.util import PythonEvalType

    frozen = [tuple(m) for m in merges]

    @pandas_udf("long", PythonEvalType.SQL_SCALAR_PANDAS_UDF)
    def _enc(words):
        return words.map(lambda w: bpe_encode_len(w, frozen))

    return vocab.select(
        F.col("word"), _enc(F.col("word")).alias("n_subwords")
    )
