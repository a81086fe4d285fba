"""Round-2 analytics additions: ROWS-frame window statistics, batch
gap-sessionization, robust (median/MAD) outlier screening, int8-quantized
vector search, per-group sampling caps, and the TPC-H Q17 small-quantity
revenue shape.

Every query is hash-matched against a DuckDB oracle computing the
identical arithmetic (integer or quantized fixed-point wherever floats
would be order-sensitive)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from multisql_spark.queries import register
from multisql_spark.tables import load_tables

_EPOCH = "CAST(floor(date_part('epoch', ts)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Window frames: ROWS-bounded moving aggregates + positional values
# ---------------------------------------------------------------------------


@register(
    "window_frame_stats",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      round(sum(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_sum3,
      round(first_value(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
        AS first_price,
      round(last_value(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
        AS last_price,
      round(nth_value(o_totalprice, 2) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
        AS second_price,
      round(percent_rank() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey), 6)
        AS pct_rank,
      round(cume_dist() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey), 6)
        AS cume
    FROM orders
    """,
    tags=("window", "frames"),
)
def window_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame moving sum plus positional window values
    (first/last/nth) and rank distributions (percent_rank/cume_dist).

    Beyond-reference window coverage (the reference has no window
    functions at all).  Both windows partition by ``o_custkey`` — a
    high-cardinality key — so at 100 TB this is one hash shuffle on the
    customer key and per-partition sorts; no global ordering anywhere.
    The ORDER BY carries ``o_orderkey`` as a total tie-break so frame
    contents are engine-identical."""
    t = load_tables(spark, sf_dir, ["orders"])
    seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = seq.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    rank_w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(seq.rowsBetween(-2, 0)), 2
        ).alias("moving_sum3"),
        F.round(F.first("o_totalprice").over(full), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(full), 2).alias("last_price"),
        F.round(
            F.nth_value("o_totalprice", 2).over(full), 2
        ).alias("second_price"),
        F.round(F.percent_rank().over(rank_w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(rank_w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Batch gap-sessionization (lag → gap flag → cumulative session index)
# ---------------------------------------------------------------------------


@register(
    "events_sessionize_batch",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type, {_EPOCH} AS ts_sec,
        CASE WHEN {_EPOCH} - lag({_EPOCH}) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) > 1800
          OR lag({_EPOCH}) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, event_id, event_type, ts_sec,
        sum(is_new) OVER (
          PARTITION BY user_id ORDER BY ts_sec, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM seq
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(session_idx AS INT) AS session_idx,
           COUNT(*) AS n_events,
           CAST(max(ts_sec) - min(ts_sec) AS BIGINT) AS duration_sec,
           min(event_id) AS first_event_id
    FROM sess
    GROUP BY user_id, session_idx
    """,
    tags=("temporal", "sessionize"),
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-sessionization: 30-minute inactivity closes a session.

    r11 (guide §2.2): native ``session_window`` replaces the lag →
    new-flag → running-sum pattern.  MergingSessionsExec aggregates
    WHILE merging sessions, so each user's history is traversed once
    — versus TWO full window passes over every event before the old
    aggregate.  The per-user session ordinal comes from one window
    over the already-aggregated session rows (~2% of the events).
    Boundary parity is exact: Spark merges a session whose end
    (last + gap) touches the next event INCLUSIVELY, so an 1800 s
    gap merges — identical to the old strict ``gap > 1800`` split
    (verified on synthetic 1799/1800/1801 gaps and by the oracle at
    all three SFs).
    The gap is measured on the same floored unix seconds as before."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    # only the three columns the session math needs cross the exchange
    e = t["events"].select("user_id", "event_id", ts.alias("ts_sec"))
    sess = e.groupBy(
        "user_id",
        F.session_window(
            F.timestamp_seconds(F.col("ts_sec")), "1800 seconds"
        ).alias("sw"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_sec") - F.min("ts_sec")).cast("long").alias(
            "duration_sec"
        ),
        F.min("event_id").alias("first_event_id"),
        F.min("ts_sec").alias("t0"),
    )
    # sessions of one user are disjoint in time, so t0 is strictly
    # increasing within a user — row_number reproduces the running-sum
    # session index exactly
    idx = W.partitionBy("user_id").orderBy("t0", "first_event_id")
    return sess.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.row_number().over(idx).cast("int").alias("session_idx"),
        "n_events",
        "duration_sec",
        "first_event_id",
    )


# ---------------------------------------------------------------------------
# Robust outlier screen: exact median + MAD per group
# ---------------------------------------------------------------------------


@register(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           round(max(d.med), 6) AS median_value,
           round(max(m.mad), 6) AS mad_value,
           COUNT(*) AS n,
           CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    tags=("monitor", "robust", "outliers"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen: exact median + median absolute
    deviation, flagging |x − med| > 3·1.4826·MAD.

    Complements ``events_outlier_flags``'s 3-sigma screen — MAD is
    immune to the outliers it hunts.  Two bounded aggregations (group
    count = |event_type|, tiny) with broadcast joins back onto the
    stream; Spark's exact ``percentile`` and DuckDB's ``quantile_cont``
    share linear-interpolation semantics.  At 100 TB the exact median
    would swap to ``approx_percentile`` (documented in SCALE.md); the
    exact form is the correctness baseline."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad_value"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Int8-quantized similarity search (integer dot products — exact hashes)
# ---------------------------------------------------------------------------

# round-half-up via floor(x + 0.5) so Spark and DuckDB quantize
# bit-identically (their ROUND tie rules differ)
_QUANT = (
    "CASE WHEN mx = 0 THEN 0 ELSE "
    "CAST(floor(x * 127.0 / mx + 0.5) AS INT) END"
)


@register(
    "sim_quantized_topk",
    oracle="""
    WITH emb AS (
      SELECT vec_id, embedding AS v,
             list_max(list_transform(embedding, x -> abs(x))) AS mx
      FROM embeddings
    ),
    q8 AS (
      SELECT vec_id,
             list_transform(v, x -> CASE WHEN mx = 0 THEN 0
               ELSE CAST(floor(x * 127.0 / mx + 0.5) AS INT) END) AS qv
      FROM emb
    ),
    qs AS (SELECT vec_id AS q_id, qv AS qq FROM q8 WHERE vec_id < 5),
    scored AS (
      SELECT q_id, c.vec_id AS cand_id,
             CAST(list_sum(list_transform(range(1, len(qq) + 1),
               i -> qq[i] * c.qv[i])) AS BIGINT) AS qdot
      FROM qs, q8 c WHERE c.vec_id <> q_id
    )
    SELECT q_id, cand_id, qdot FROM (
      SELECT q_id, cand_id, qdot,
             row_number() OVER (
               PARTITION BY q_id ORDER BY qdot DESC, cand_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    tags=("similarity", "quantized", "knn"),
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by int8-quantized dot product (vec_id < 5 query set).

    The quantized-vector scale path: per-vector symmetric int8
    quantization (scale = max|x|/127) shrinks the corpus 4× before it
    is ever shuffled or broadcast, and the scoring loop is integer
    multiply-adds — exactly reproducible across engines, so this is
    hash-checked (the float baseline `sim_bruteforce_topk` needs
    quantized scores).  Query set broadcasts; the corpus never shuffles;
    top-k per query is a WindowGroupLimit heap, not a global sort."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"].select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.array_max(
            F.transform(F.col("embedding"), lambda x: F.abs(x))
        ).alias("mx"),
    )
    q8 = emb.select(
        "vec_id",
        F.transform(
            F.col("v"),
            lambda x: F.when(F.col("mx") == 0, F.lit(0)).otherwise(
                F.floor(x * 127.0 / F.col("mx") + 0.5).cast("int")
            ),
        ).alias("qv"),
    )
    qs = q8.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("qq")
    )
    scored = (
        q8.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            F.aggregate(
                F.zip_with(
                    F.col("qq"), F.col("qv"), lambda a, b: a * b
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.desc("qdot"), F.asc("cand_id"))
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 10)
        .select("q_id", "cand_id", "qdot")
    )


# ---------------------------------------------------------------------------
# Per-group sampling cap (per-domain document budget)
# ---------------------------------------------------------------------------


@register(
    "sample_per_group_cap",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 10
    """,
    tags=("sampling", "cap"),
)
def sample_per_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document cap: keep the 10 docs with the
    smallest md5(doc_id) per source.

    The per-domain budget primitive for mixture construction (cap any
    one domain's contribution).  Hash order makes the sample
    deterministic and repartition-stable; row_number-with-limit plans as
    WindowGroupLimit — a per-group top-k heap pushed before the final
    sort, never a global sort.  One shuffle on ``source``."""
    t = load_tables(spark, sf_dir, ["documents"])
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        t["documents"]
        .select("doc_id", "source")
        .withColumn("rk", rk)
        .filter(F.col("rk") <= 10)
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: small-quantity order revenue vs per-part average
# ---------------------------------------------------------------------------


@register(
    "tpch_small_qty_revenue",
    oracle="""
    SELECT CAST(round(sum(l_extendedprice) / 7.0, 2) AS DOUBLE)
           AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
    tags=("tpch", "q17"),
)
def tpch_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from orders below 20% of the part's average
    quantity (correlated scalar subquery per part).

    Spark-first decorrelation: the per-part average is ONE bounded
    pre-aggregation (|part| rows) broadcast back onto the lineitem
    scan — no correlated per-row subquery execution, no second lineitem
    shuffle.  The brand filter prunes the part side before both the
    aggregate probe and the join."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    li, part = t["lineitem"], t["part"]
    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    # per-part avg only over parts that survive the brand filter: the
    # aggregation input is semi-join-pruned before it shuffles
    avg_q = (
        li.join(
            F.broadcast(brand_parts),
            li.l_partkey == brand_parts.p_partkey,
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg((F.avg("l_quantity") * 0.2).alias("qty_cut"))
    )
    picked = (
        li.join(F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(avg_q), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
    )
    return picked.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2)
        .cast("double")
        .alias("avg_yearly")
    )


# ---------------------------------------------------------------------------
# Per-entity linear trend (regr_slope/regr_intercept over exact integer sums)
# ---------------------------------------------------------------------------


@register(
    "events_value_trend",
    oracle=f"""
    WITH q AS (
      SELECT user_id,
             {_EPOCH} - 1700000000 AS x,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS yq
      FROM events
    ),
    s AS (
      SELECT user_id, COUNT(*) AS n,
             sum(x) AS sx, sum(yq) AS sy,
             sum(x * x) AS sxx, sum(x * yq) AS sxy
      FROM q GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n,
      CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
        THEN 0.0
        ELSE round(
          CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
               AS DOUBLE)
          / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                 AS DOUBLE) / 1000000.0 * 3600.0, 6)
      END AS slope_per_hour
    FROM s WHERE n >= 3
    """,
    tags=("temporal", "regression", "features"),
)
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event value over time (least-squares
    slope, units per hour).

    Drift-per-entity feature for behavior models.  The normal-equation
    sums (Σx, Σy, Σxy, Σx²) accumulate as exact integers (value
    quantized to 1e-6, time as epoch-second offsets), so the slope is a
    single exact-rational division — bit-identical across engines and
    partitionings, unlike a float covariance accumulation whose result
    depends on summation order.  One groupBy(user_id); the wide products
    go through DECIMAL(38,0) (DuckDB HUGEINT) to avoid BIGINT overflow."""
    t = load_tables(spark, sf_dir, ["events"])
    x = (F.unix_timestamp("ts").cast("long") - F.lit(1700000000)).alias("x")
    yq = F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("yq")
    q = t["events"].select("user_id", x, yq)
    s = q.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("yq")).alias("sxy"),
    )
    dec = "decimal(38,0)"
    num = F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col(
        "sx"
    ).cast(dec) * F.col("sy").cast(dec)
    den = F.col("n").cast(dec) * F.col("sxx").cast(dec) - F.col(
        "sx"
    ).cast(dec) * F.col("sx").cast(dec)
    return (
        s.filter(F.col("n") >= 3)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "n",
            F.when(den == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    num.cast("double")
                    / den.cast("double")
                    / 1000000.0
                    * 3600.0,
                    6,
                )
            )
            .alias("slope_per_hour"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence drift (source × language contingency)
# ---------------------------------------------------------------------------


@register(
    "monitor_lang_chisq",
    oracle="""
    WITH cell AS (
      SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT source, sum(o) AS r FROM cell GROUP BY 1),
    ct AS (SELECT lang, sum(o) AS c FROM cell GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM cell),
    term AS (
      SELECT cell.source,
        CAST(floor(
          (cell.o - rt.r * ct.c * 1.0 / tot.n)
          * (cell.o - rt.r * ct.c * 1.0 / tot.n)
          / (rt.r * ct.c * 1.0 / tot.n) * 1000000 + 0.5) AS BIGINT) AS tq
      FROM cell, rt, ct, tot
      WHERE cell.source = rt.source AND cell.lang = ct.lang
    )
    SELECT source, round(sum(tq) / 1000000.0, 4) AS chisq_contrib
    FROM term GROUP BY source
    """,
    tags=("monitor", "drift", "chisq"),
)
def monitor_lang_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source chi-square contribution against the corpus-wide
    source⊥language independence hypothesis.

    The classical contingency drift test, complementing the
    total-variation monitor: a source whose language mix diverges from
    the corpus shows a large Σ(O−E)²/E.  The contingency table
    (|source|×|lang| cells) is one bounded aggregation; margins
    broadcast back onto it; each cell's term is quantized to 1e-6
    before the final integer sum so the statistic is addition-order
    independent."""
    t = load_tables(spark, sf_dir, ["documents"])
    cell = t["documents"].groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("o")
    )
    # r11 (guide §1.2): row/column margins and the grand total as
    # window sums over the one bounded contingency table (|source| ×
    # |lang| cells) instead of three re-aggregations broadcast back —
    # the former shape instantiated the documents lineage four times.
    # Integer window sums equal the joined margins exactly.
    cell = (
        cell.withColumn("r", F.sum("o").over(W.partitionBy("source")))
        .withColumn("c", F.sum("o").over(W.partitionBy("lang")))
        .withColumn("n", F.sum("o").over(W.partitionBy()))
    )
    e = F.col("r") * F.col("c") / F.col("n")
    tq = F.floor(
        (F.col("o") - e) * (F.col("o") - e) / e * 1000000 + 0.5
    ).cast("long")
    return (
        cell.select("source", tq.alias("tq"))
        .groupBy("source")
        .agg(F.round(F.sum("tq") / 1000000.0, 4).alias("chisq_contrib"))
    )


# ---------------------------------------------------------------------------
# Shannon entropy of each source's token distribution
# ---------------------------------------------------------------------------


@register(
    "monitor_source_entropy",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tk
      FROM documents
    ),
    cnt AS (SELECT source, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    tot AS (SELECT source, sum(c) AS t FROM cnt GROUP BY 1),
    term AS (
      SELECT cnt.source,
        CAST(floor(-(c * 1.0 / t) * ln(c * 1.0 / t) * 1000000 + 0.5)
             AS BIGINT) AS hq
      FROM cnt JOIN tot ON cnt.source = tot.source
    )
    SELECT source, round(sum(hq) / 1000000.0, 4) AS entropy_nats
    FROM term GROUP BY source
    """,
    tags=("monitor", "entropy", "text"),
)
def monitor_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each source's token distribution — a
    one-number health metric: collapsed/templated sources score low,
    natural text high.

    Token counts are one explode + groupBy (the same shuffle shape as
    the vocabulary build); per-source totals broadcast back; each
    −p·ln p term is quantized to 1e-6 before the integer sum, making the
    entropy independent of float addition order at any partitioning."""
    t = load_tables(spark, sf_dir, ["documents"])
    tok = t["documents"].select(
        "source", F.explode(F.split("text", " ")).alias("tk")
    )
    cnt = tok.groupBy("source", "tk").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t")
    hq = F.floor(-p * F.log(p) * 1000000 + 0.5).cast("long")
    return (
        cnt.join(F.broadcast(tot), "source")
        .select("source", hq.alias("hq"))
        .groupBy("source")
        .agg(F.round(F.sum("hq") / 1000000.0, 4).alias("entropy_nats"))
    )


# ---------------------------------------------------------------------------
# Hourly latency-style percentile bands (P50/P95/P99 per hour × type)
# ---------------------------------------------------------------------------


@register(
    "events_percentile_bands_hourly",
    oracle=f"""
    SELECT ({_EPOCH} // 3600) * 3600 AS hour_start,
           event_type,
           COUNT(*) AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY 1, 2
    """,
    tags=("temporal", "percentiles", "observability"),
)
def events_percentile_bands_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """P50/P95/P99 value bands per hour × event type — the SLO/latency
    rollup shape.

    One groupBy on (hour, type); Spark's exact ``percentile`` with a
    probability array computes all three bands in a single aggregation
    buffer (one pass, one shuffle).  Exact percentiles hold to the
    hourly grain because each group is bounded (one hour of one type);
    the all-time variant at 100 TB is ``approx_percentile`` — the same
    swap documented for the MAD screen."""
    t = load_tables(spark, sf_dir, ["events"])
    hour = (
        (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long")
        * 3600
    ).alias("hour_start")
    g = t["events"].groupBy(hour, F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, array(0.5, 0.95, 0.99))").alias("pct"),
    )
    return g.select(
        "hour_start",
        "event_type",
        "n",
        F.round(F.col("pct")[0], 6).alias("p50"),
        F.round(F.col("pct")[1], 6).alias("p95"),
        F.round(F.col("pct")[2], 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Event-type co-occurrence lift (market-basket over per-user histories)
# ---------------------------------------------------------------------------


@register(
    "events_cooccurrence_lift",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
    tc AS (SELECT event_type, COUNT(*) AS c FROM ut GROUP BY 1),
    pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           round(n_ab * 1.0 * nu / (ta.c * tb.c), 6) AS lift
    FROM pair, n_users
    JOIN tc ta ON ta.event_type = type_a
    JOIN tc tb ON tb.event_type = type_b
    """,
    tags=("cooccurrence", "basket"),
)
def events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence lift over per-user histories
    (market-basket association strength).

    The (user, type) distinct set shuffles once; the pair self-join is
    keyed on user_id (bounded by types-per-user², with |types| tiny) —
    never an all-pairs product over users.  Type marginals and the user
    count broadcast onto the pair counts; lift = P(ab)/(P(a)P(b)) as an
    exact integer ratio rounded at 1e-6."""
    t = load_tables(spark, sf_dir, ["events"])
    ut = t["events"].select("user_id", "event_type").distinct()
    nu = ut.select("user_id").distinct().count()
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ut.alias("a")
    b = ut.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ta = tc.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("ca")
    )
    tb = tc.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("cb")
    )
    return (
        pair.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                F.col("n_ab") * F.lit(float(nu)) / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick) into fixed-width count vectors
# ---------------------------------------------------------------------------


@register(
    "pipeline_feature_hashing",
    oracle="""
    WITH f AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(event_type ||
               json_extract_string(props, '$.k')), 1, 8)) AS BIGINT)
               % 16 AS bucket
      FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(bucket AS INT) AS bucket,
           COUNT(*) AS cnt
    FROM f GROUP BY 1, 2
    """,
    tags=("features", "hashing"),
)
def pipeline_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: categorical (event_type, props.k) features
    hashed into a fixed 16-bucket count vector per user.

    Unbounded-vocabulary categorical features become fixed-width
    vectors with no dictionary build, no second pass, and no driver
    state — md5 is the shared deterministic hash (same bytes on both
    engines).  One groupBy(user_id, bucket); emitted long-form (one row
    per non-zero bucket), the sparse layout that survives 100 TB."""
    t = load_tables(spark, sf_dir, ["events"])
    feat = F.concat(
        F.col("event_type"), F.get_json_object("props", "$.k")
    )
    bucket = (
        F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long") % 16
    ).cast("int")
    return (
        t["events"]
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            bucket.alias("bucket"),
        )
        .groupBy("user_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# CDC apply (SCD type-1): last-writer-wins snapshot from a changelog
# ---------------------------------------------------------------------------


@register(
    "pipeline_cdc_apply",
    oracle=f"""
    WITH log AS (
      SELECT CAST(user_id AS BIGINT) AS k,
             {_EPOCH} AS seq_ts, event_id AS seq_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY {_EPOCH} DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM events
    )
    SELECT k AS user_id, value AS last_value, seq_ts AS last_ts_sec,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM log WHERE rn = 1 AND op = 'U'
    """,
    tags=("cdc", "scd1", "lakehouse"),
)
def pipeline_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog → SCD-type-1 snapshot: last-writer-wins per key,
    with deletes ('error' rows) tombstoning the key.

    r11 (guide §2.3): last-writer-wins is an argmax, so one
    ``max_by`` aggregate replaces the exchange + per-key sort + two
    window passes.  ``(seq_ts, seq_id)`` is unique per key (event ids
    are unique), so the struct-ordered max_by picks exactly the old
    ``rn = 1`` row; the hash aggregate needs no sort at all, and the
    map-side PARTIAL aggregate shrinks the shuffle to one candidate
    row per key per input split — at 100 TB the full changelog no
    longer crosses the wire, only per-split winners do."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    log = t["events"].select(
        F.col("user_id").cast("long").alias("k"),
        ts.alias("seq_ts"),
        F.col("event_id").alias("seq_id"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
    )
    snap = log.groupBy("k").agg(
        F.max_by(
            F.struct("op", "value", "seq_ts"),
            F.struct("seq_ts", "seq_id"),
        ).alias("last"),
        F.count(F.lit(1)).alias("n_changes"),
    ).filter(F.col("last.op") == "U")
    return snap.select(
        F.col("k").alias("user_id"),
        F.col("last.value").alias("last_value"),
        F.col("last.seq_ts").alias("last_ts_sec"),
        F.col("n_changes").cast("long").alias("n_changes"),
    )


# ---------------------------------------------------------------------------
# SCD type-2 history build (validity intervals from a changelog)
# ---------------------------------------------------------------------------


@register(
    "pipeline_scd2_history",
    oracle=f"""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           event_id,
           value,
           {_EPOCH} AS valid_from,
           coalesce(lead({_EPOCH}) OVER (
             PARTITION BY user_id ORDER BY {_EPOCH}, event_id),
             32503680000) AS valid_to,
           CASE WHEN lead({_EPOCH}) OVER (
             PARTITION BY user_id ORDER BY {_EPOCH}, event_id) IS NULL
           THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE event_type = 'purchase'
    """,
    tags=("cdc", "scd2", "lakehouse"),
)
def pipeline_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history: every change becomes a
    [valid_from, valid_to) version row; the open version carries the
    far-future sentinel and is_current=1.

    One window pass per key (lead over the change order) — the
    warehouse history-table build, no joins.  Filter pushdown sends the
    event_type predicate to the scan."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    e = t["events"].filter(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_id",
        "value",
        ts.alias("valid_from"),
    )
    w = W.partitionBy("user_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(w)
    return e.select(
        "user_id",
        "event_id",
        "value",
        "valid_from",
        F.coalesce(nxt, F.lit(32503680000)).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Incremental materialized-aggregate maintenance (merge == recompute)
# ---------------------------------------------------------------------------


@register(
    "matview_incremental_merge",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    tags=("matview", "incremental"),
)
def matview_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance: the standing rollup state
    (events up to a watermark id) merged with the new batch's delta
    aggregation must equal a from-scratch recompute — which is exactly
    what the oracle computes.

    COUNT/SUM/MIN/MAX are algebraic (mergeable) aggregates, so the
    refresh costs O(delta + |state|), never O(history): the delta
    map-side combines into per-type partials, and the state merge is
    one keyed outer join over the tiny group set (operators/
    incremental.py)."""
    from multisql_spark.operators.incremental import (
        aggregate_state,
        merge_agg_state,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].select(
        "event_id",
        "event_type",
        "value",
        F.col("value").cast("decimal(18,2)").alias("value_dec"),
    )
    aggs = {
        "n": ("count", F.lit(1)),
        "total_value": ("sum", F.col("value_dec")),
        "min_value": ("min", F.col("value")),
        "max_value": ("max", F.col("value")),
    }
    split = 600  # standing state vs newly-arrived delta
    state = aggregate_state(
        e.filter(F.col("event_id") < split), ["event_type"], aggs
    )
    delta = aggregate_state(
        e.filter(F.col("event_id") >= split), ["event_type"], aggs
    )
    merged = merge_agg_state(state, delta, ["event_type"], aggs)
    return merged.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("total_value").cast("double").alias("total_value"),
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# Rolling active users (DAU / WAU) via contribution explode
# ---------------------------------------------------------------------------


@register(
    "events_active_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
             {_EPOCH} // 86400 AS day
      FROM events
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    contrib AS (
      SELECT DISTINCT user_id, unnest(range(day, day + 7)) AS wday
      FROM ud
    ),
    wau AS (
      SELECT wday AS day, COUNT(*) AS wau FROM contrib GROUP BY wday
    )
    SELECT CAST(dau.day AS BIGINT) AS day, dau.dau, wau.wau
    FROM dau JOIN wau ON dau.day = wau.day
    JOIN bounds ON dau.day BETWEEN bounds.lo AND bounds.hi
    """,
    tags=("temporal", "active-users"),
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and trailing-7-day WAU per day (the product-analytics
    headline metric pair; MAU is the same shape with a 30-day fan-out).

    Rolling *distinct* counts can't merge across windows, so the
    scale-standard trick is contribution fan-out: each (user, active
    day) pair contributes to 7 target days, and WAU(d) is a plain
    distinct count per target day.  Cost is O(7·|user-days|) rows into
    one distinct + one count — no per-day re-scan, no giant window
    state.  At extreme scale the distinct swaps to per-day HLL sketches
    merged across the window (`approx_sketches`)."""
    t = load_tables(spark, sf_dir, ["events"])
    ud = (
        t["events"]
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            (F.unix_timestamp("ts").cast("long") / F.lit(86400))
            .cast("long")
            .alias("day"),
        )
        .distinct()
    )
    bounds = ud.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + 6)
            ).alias("wday"),
        )
        .distinct()
    )
    wau = contrib.groupBy(F.col("wday").alias("day")).agg(
        F.count(F.lit(1)).alias("wau")
    )
    return (
        dau.join(wau, "day")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("day").between(F.col("lo"), F.col("hi")))
        .select(F.col("day").cast("long").alias("day"), "dau", "wau")
    )


# ---------------------------------------------------------------------------
# Trending event types: hour-over-hour delta ranking
# ---------------------------------------------------------------------------


@register(
    "events_trending_types",
    oracle=f"""
    WITH hourly AS (
      SELECT ({_EPOCH} // 3600) * 3600 AS hour_start, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    delta AS (
      SELECT hour_start, event_type, n,
             n - coalesce(lag(n) OVER (
               PARTITION BY event_type ORDER BY hour_start), 0) AS dlt
      FROM hourly
    )
    SELECT hour_start, event_type, n, dlt FROM (
      SELECT hour_start, event_type, n, dlt,
             row_number() OVER (
               PARTITION BY hour_start
               ORDER BY dlt DESC, event_type) AS rk
      FROM delta
    ) WHERE rk <= 3
    """,
    tags=("temporal", "trending"),
)
def events_trending_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 trending event types per hour by hour-over-hour count
    delta — the feed-ranking / alerting shape.

    Runs entirely on the bounded hourly rollup (hours × types rows),
    so after the one rollup aggregation every window/tie-break is
    near-free; the per-hour top-3 plans as WindowGroupLimit."""
    t = load_tables(spark, sf_dir, ["events"])
    hour = (
        (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long")
        * 3600
    ).alias("hour_start")
    hourly = t["events"].groupBy(hour, F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    lagw = W.partitionBy("event_type").orderBy("hour_start")
    delta = hourly.withColumn(
        "dlt",
        F.col("n") - F.coalesce(F.lag("n").over(lagw), F.lit(0)),
    )
    rk = F.row_number().over(
        W.partitionBy("hour_start").orderBy(
            F.desc("dlt"), F.asc("event_type")
        )
    )
    return (
        delta.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("hour_start", "event_type", "n", "dlt")
    )


# ---------------------------------------------------------------------------
# Embedding-space drift monitor: per-label centroid shift vs corpus centroid
# ---------------------------------------------------------------------------


@register(
    "monitor_embedding_drift",
    oracle="""
    WITH comp AS (
      SELECT CAST(label AS BIGINT) AS label,
             i - 1 AS dim,
             CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings,
           unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    lc AS (
      SELECT label, dim,
             CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE) AS s,
             COUNT(*) AS n
      FROM comp GROUP BY label, dim
    ),
    gc AS (
      SELECT dim,
             CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE) AS s,
             COUNT(*) AS n
      FROM comp GROUP BY dim
    )
    SELECT lc.label,
           CAST(max(lc.n) AS BIGINT) AS n,
           round(sum(CAST(floor(
             (lc.s / lc.n - gc.s / gc.n) * (lc.s / lc.n - gc.s / gc.n)
             * 1000000000 + 0.5) AS BIGINT)) / 1000000000.0, 6)
             AS centroid_shift2
    FROM lc JOIN gc ON lc.dim = gc.dim
    GROUP BY lc.label
    """,
    tags=("monitor", "embeddings", "drift"),
)
def monitor_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift: squared L2 shift of each label's centroid
    from the corpus centroid — the embedding analogue of the language
    TV-distance monitor (a collapsed or shifted slice shows up as a
    large centroid displacement).

    Centroid numerators accumulate as exact DECIMAL(18,9) sums per
    (label, dim) — one posexplode + partial-aggregated groupBy, the
    vectors themselves never re-shuffle.  Per-dim squared differences
    quantize to 1e-9 integers before the final sum, so the statistic is
    addition-order-free.  The global centroid (64 rows) broadcasts."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    comp = t["embeddings"].select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(F.col("embedding")).alias("dim", "vf"),
    ).select("label", "dim", F.col("vf").cast("double").alias("v"))
    lc = comp.groupBy("label", "dim").agg(
        F.sum(F.col("v").cast("decimal(18,9)")).cast("double").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    gc = comp.groupBy("dim").agg(
        F.sum(F.col("v").cast("decimal(18,9)")).cast("double").alias("gs"),
        F.count(F.lit(1)).alias("gn"),
    )
    d = F.col("s") / F.col("n") - F.col("gs") / F.col("gn")
    term = F.floor(d * d * 1000000000 + 0.5).cast("long")
    return (
        lc.join(F.broadcast(gc), "dim")
        .groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.round(F.sum(term) / 1000000000.0, 6).alias(
                "centroid_shift2"
            ),
        )
    )


# ---------------------------------------------------------------------------
# kNN label-agreement evaluation (classifier eval on the int8 path)
# ---------------------------------------------------------------------------


@register(
    "sim_knn_label_eval",
    oracle="""
    WITH emb AS (
      SELECT vec_id, label, embedding AS v,
             list_max(list_transform(embedding, x -> abs(x))) AS mx
      FROM embeddings
    ),
    q8 AS (
      SELECT vec_id, label,
             list_transform(v, x -> CASE WHEN mx = 0 THEN 0
               ELSE CAST(floor(x * 127.0 / mx + 0.5) AS INT) END) AS qv
      FROM emb
    ),
    qs AS (SELECT vec_id AS q_id, label AS true_label, qv AS qq
           FROM q8 WHERE vec_id < 20),
    scored AS (
      SELECT q_id, true_label, c.label AS cand_label,
             c.vec_id AS cand_id,
             CAST(list_sum(list_transform(range(1, len(qq) + 1),
               i -> qq[i] * c.qv[i])) AS BIGINT) AS qdot
      FROM qs, q8 c WHERE c.vec_id <> q_id
    ),
    topk AS (
      SELECT q_id, true_label, cand_label FROM (
        SELECT q_id, true_label, cand_label,
               row_number() OVER (
                 PARTITION BY q_id ORDER BY qdot DESC, cand_id) AS rk
        FROM scored
      ) WHERE rk <= 10
    ),
    votes AS (
      SELECT q_id, true_label, cand_label, COUNT(*) AS votes
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT q_id, true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           votes,
           CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS correct
    FROM (
      SELECT q_id, true_label, cand_label AS pred_label, votes,
             row_number() OVER (
               PARTITION BY q_id
               ORDER BY votes DESC, cand_label) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
    tags=("similarity", "knn", "eval"),
)
def sim_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier evaluation: majority label among the int8 top-10
    neighbors vs the query's true label (vec_id < 20 query sample).

    The label-agreement harness that qualifies an embedding space for
    similarity-based curation: low kNN accuracy means clusters don't
    respect labels.  Runs entirely on the quantized integer path, so
    neighbor sets — and therefore the verdict — are bit-stable across
    engines and partitionings.  Same broadcast/WindowGroupLimit shape
    as `sim_quantized_topk`; the majority vote is a tiny per-query
    aggregation with a deterministic (votes DESC, label) tie-break."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"].select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("embedding").alias("v"),
        F.array_max(
            F.transform(F.col("embedding"), lambda x: F.abs(x))
        ).alias("mx"),
    )
    q8 = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("v"),
            lambda x: F.when(F.col("mx") == 0, F.lit(0)).otherwise(
                F.floor(x * 127.0 / F.col("mx") + 0.5).cast("int")
            ),
        ).alias("qv"),
    )
    qs = q8.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("qv").alias("qq"),
    )
    scored = (
        q8.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "true_label",
            F.col("label").alias("cand_label"),
            F.col("vec_id").alias("cand_id"),
            F.aggregate(
                F.zip_with(F.col("qq"), F.col("qv"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.desc("qdot"), F.asc("cand_id"))
    )
    topk = scored.withColumn("rk", rk).filter(F.col("rk") <= 10)
    votes = topk.groupBy("q_id", "true_label", "cand_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    vr = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("cand_label"))
    )
    return (
        votes.withColumn("vr", vr)
        .filter(F.col("vr") == 1)
        .select(
            "q_id",
            "true_label",
            F.col("cand_label").cast("long").alias("pred_label"),
            "votes",
            F.when(F.col("cand_label") == F.col("true_label"), 1)
            .otherwise(0)
            .alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis: hash assignment + Welch z from exact moments
# ---------------------------------------------------------------------------


@register(
    "monitor_ab_cuped",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, {_EPOCH} AS ep,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS yq
      FROM events
    ),
    thr AS (SELECT (min(ep) + max(ep)) // 2 AS t FROM ev),
    per_user AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 2 AS arm,
             sum(CASE WHEN ep < t THEN CAST(yq AS HUGEINT)
                      ELSE CAST(0 AS HUGEINT) END) AS xq,
             sum(CASE WHEN ep >= t THEN CAST(yq AS HUGEINT)
                      ELSE CAST(0 AS HUGEINT) END) AS ysq
      FROM ev, thr GROUP BY 1, 2
    ),
    pooled AS (
      SELECT count(*) AS n,
             sum(xq) AS sx, sum(ysq) AS sy,
             sum(xq * xq) AS sxx, sum(xq * ysq) AS sxy
      FROM per_user
    ),
    theta AS (
      SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS th,
             CAST(sx AS DOUBLE) / n AS mean_x_pool
      FROM pooled
    ),
    arms AS (
      SELECT arm, count(*) AS n,
             sum(xq) AS sx, sum(ysq) AS sy,
             sum(xq * xq) AS sxx, sum(ysq * ysq) AS syy,
             sum(xq * ysq) AS sxy
      FROM per_user GROUP BY arm
    ),
    stats AS (
      SELECT arm, n,
             CAST(sy AS DOUBLE) / n AS mean_y,
             CAST(sx AS DOUBLE) / n AS mean_x,
             (CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
               / (n - 1) AS var_y,
             (CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
               / (n - 1) AS var_x,
             (CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
               / (n - 1) AS cov_xy
      FROM arms
    ),
    adj AS (
      SELECT s.arm, s.n, s.mean_y, s.var_y,
             s.mean_y - t.th * (s.mean_x - t.mean_x_pool) AS mean_adj,
             s.var_y + t.th * t.th * s.var_x
               - 2 * t.th * s.cov_xy AS var_adj,
             t.th AS th
      FROM stats s, theta t
    )
    SELECT CAST(a.n AS BIGINT) AS n_a,
           CAST(b.n AS BIGINT) AS n_b,
           round(a.th, 6) AS theta,
           round(a.mean_adj / 1000000.0, 6) AS mean_adj_a,
           round(b.mean_adj / 1000000.0, 6) AS mean_adj_b,
           round((a.mean_y - b.mean_y)
                 / sqrt(a.var_y / a.n + b.var_y / b.n), 4) AS welch_z_raw,
           round((a.mean_adj - b.mean_adj)
                 / sqrt(a.var_adj / a.n + b.var_adj / b.n), 4)
             AS welch_z_cuped,
           round(1 - (a.var_adj + b.var_adj) / (a.var_y + b.var_y), 6)
             AS var_reduction
    FROM adj a JOIN adj b ON a.arm = 0 AND b.arm = 1
    """,
    tags=("monitor", "experiment", "ab", "cuped"),
)
def monitor_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013): each
    user's PRE-period activity (events before the corpus time midpoint)
    is the control covariate for their post-period metric — adjusted
    metric y' = y − θ·(x − x̄) with θ = cov(x,y)/var(x) fitted pooled —
    so the Welch z between the md5-parity arms sharpens without
    touching the estimand.  Reported next to the raw z plus the
    realized variance reduction: the standard industrial upgrade over
    `monitor_ab_experiment` when experiments run on heavy-tailed usage.

    Scale shape: one per-user aggregation (the only row-scale shuffle),
    then all moments (n, Σx, Σy, Σx², Σy², Σxy) as exact HUGEINT /
    DECIMAL(38,0) sums per arm and pooled — the θ/z arithmetic runs on
    ≤3 rows of exact sums, so every double is engine-deterministic and
    the statistic is bit-stable at any parallelism."""
    t = load_tables(spark, sf_dir, ["events"])
    dec = "decimal(38,0)"
    ev = t["events"].select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("ep"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("yq"),
    )
    thr = ev.agg(
        F.expr("(min(ep) + max(ep)) div 2").alias("t")
    )
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_user = (
        ev.crossJoin(F.broadcast(thr))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ep") < F.col("t"), F.col("yq"))
                .otherwise(0)
                .cast(dec)
            ).alias("xq"),
            F.sum(
                F.when(F.col("ep") >= F.col("t"), F.col("yq"))
                .otherwise(0)
                .cast(dec)
            ).alias("ysq"),
        )
        .withColumn("arm", arm)  # deterministic function of user_id
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("ysq").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("ysq") * F.col("ysq")).alias("syy"),
        F.sum(F.col("xq") * F.col("ysq")).alias("sxy"),
    )
    # r11 (guide §1.2): the pooled moments are the exact column sums of
    # the 2-row per-arm moment table (the md5-parity arms partition the
    # users; DECIMAL(38,0) addition is associative), so the pooled
    # aggregate no longer re-instantiates the per-user lineage.
    pooled = arms.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
    )
    theta = pooled.select(
        (
            (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.col("n").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
        ).alias("th"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_x_pool"),
    )
    stats = arms.select(
        "arm",
        "n",
        (F.col("sy").cast("double") / F.col("n")).alias("mean_y"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_x"),
        (
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double")
                * F.col("sy").cast("double")
                / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var_y"),
        (
            (
                F.col("sxx").cast("double")
                - F.col("sx").cast("double")
                * F.col("sx").cast("double")
                / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var_x"),
        (
            (
                F.col("sxy").cast("double")
                - F.col("sx").cast("double")
                * F.col("sy").cast("double")
                / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("cov_xy"),
    )
    adj = stats.crossJoin(F.broadcast(theta)).select(
        "arm",
        "n",
        "mean_y",
        "var_y",
        (
            F.col("mean_y")
            - F.col("th") * (F.col("mean_x") - F.col("mean_x_pool"))
        ).alias("mean_adj"),
        (
            F.col("var_y")
            + F.col("th") * F.col("th") * F.col("var_x")
            - 2 * F.col("th") * F.col("cov_xy")
        ).alias("var_adj"),
        "th",
    )
    # r11 second pass (guide §1.2): the arm-0 × arm-1 readout pivots
    # the 2-row adjusted table with one conditional aggregate instead
    # of filtering it twice and re-joining — no self-instantiation, no
    # join at all (max over the single matching row is that row's
    # value; th is identical on both rows).
    side = lambda arm_v, c: F.max(  # noqa: E731
        F.when(F.col("arm") == arm_v, F.col(c))
    )
    ab = adj.agg(
        side(0, "n").alias("n_a"),
        side(0, "mean_y").alias("my_a"),
        side(0, "var_y").alias("vy_a"),
        side(0, "mean_adj").alias("ma_a"),
        side(0, "var_adj").alias("va_a"),
        F.max("th").alias("th"),
        side(1, "n").alias("n_b"),
        side(1, "mean_y").alias("my_b"),
        side(1, "var_y").alias("vy_b"),
        side(1, "mean_adj").alias("ma_b"),
        side(1, "var_adj").alias("va_b"),
    )
    # the old a ⋈ b inner join returned no row if either arm were
    # empty; keep that contract
    ab = ab.filter(F.col("n_a").isNotNull() & F.col("n_b").isNotNull())
    return ab.select(
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        F.round(F.col("th"), 6).alias("theta"),
        F.round(F.col("ma_a") / 1000000.0, 6).alias("mean_adj_a"),
        F.round(F.col("ma_b") / 1000000.0, 6).alias("mean_adj_b"),
        F.round(
            (F.col("my_a") - F.col("my_b"))
            / F.sqrt(
                F.col("vy_a") / F.col("n_a") + F.col("vy_b") / F.col("n_b")
            ),
            4,
        ).alias("welch_z_raw"),
        F.round(
            (F.col("ma_a") - F.col("ma_b"))
            / F.sqrt(
                F.col("va_a") / F.col("n_a") + F.col("va_b") / F.col("n_b")
            ),
            4,
        ).alias("welch_z_cuped"),
        F.round(
            1
            - (F.col("va_a") + F.col("va_b"))
            / (F.col("vy_a") + F.col("vy_b")),
            6,
        ).alias("var_reduction"),
    )


@register(
    "monitor_ab_experiment",
    oracle="""
    WITH assigned AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 2 AS arm,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS yq
      FROM events
    ),
    m AS (
      SELECT event_type, arm, COUNT(*) AS n,
             sum(CAST(yq AS HUGEINT)) AS sy,
             sum(CAST(yq AS HUGEINT) * yq) AS syy
      FROM assigned GROUP BY 1, 2
    ),
    w AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             CAST(a.sy AS DOUBLE) / a.n / 1000000.0 AS mean_a,
             CAST(b.sy AS DOUBLE) / b.n / 1000000.0 AS mean_b,
             (CAST(a.syy AS DOUBLE)
              - CAST(a.sy AS DOUBLE) * CAST(a.sy AS DOUBLE) / a.n)
               / (a.n - 1) / 1000000000000.0 AS var_a,
             (CAST(b.syy AS DOUBLE)
              - CAST(b.sy AS DOUBLE) * CAST(b.sy AS DOUBLE) / b.n)
               / (b.n - 1) / 1000000000000.0 AS var_b
      FROM m a JOIN m b
        ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
    )
    SELECT event_type, n_a, n_b,
           round(mean_a, 6) AS mean_a,
           round(mean_b, 6) AS mean_b,
           round((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 4) AS welch_z
    FROM w
    """,
    tags=("monitor", "experiment", "ab"),
)
def monitor_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-assigned to
    two arms, per-metric Welch z-statistic between arms.

    The experimentation primitive on the training-pipeline's own
    idioms: assignment is md5-parity (stable across reruns and joins —
    no assignment table to keep consistent), and each arm's mean and
    variance come from exact quantized integer moment sums
    (DECIMAL(38,0)/HUGEINT) — one aggregation over the metric stream,
    then a tiny arm×metric join.  The z arithmetic happens on ≤|metrics|
    rows of exact sums, so the statistic is bit-stable at any
    parallelism."""
    t = load_tables(spark, sf_dir, ["events"])
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    yq = F.floor(F.col("value") * 1000000 + 0.5).cast("long")
    dec = "decimal(38,0)"
    assigned = t["events"].select(
        "event_type", arm.alias("arm"), yq.alias("yq")
    )
    m = assigned.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("yq").cast(dec)).alias("sy"),
        F.sum(F.col("yq").cast(dec) * F.col("yq")).alias("syy"),
    )
    a = m.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("sy").alias("sy_a"),
        F.col("syy").alias("syy_a"),
    )
    b = m.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("sy").alias("sy_b"),
        F.col("syy").alias("syy_b"),
    )
    j = a.join(b, "event_type")
    mean_a = F.col("sy_a").cast("double") / F.col("n_a") / 1000000.0
    mean_b = F.col("sy_b").cast("double") / F.col("n_b") / 1000000.0
    var_a = (
        F.col("syy_a").cast("double")
        - F.col("sy_a").cast("double")
        * F.col("sy_a").cast("double")
        / F.col("n_a")
    ) / (F.col("n_a") - 1) / 1.0e12
    var_b = (
        F.col("syy_b").cast("double")
        - F.col("sy_b").cast("double")
        * F.col("sy_b").cast("double")
        / F.col("n_b")
    ) / (F.col("n_b") - 1) / 1.0e12
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(
            (mean_a - mean_b)
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")),
            4,
        ).alias("welch_z"),
    )


# ---------------------------------------------------------------------------
# Dataset version diff (added / removed / changed by key + row hash)
# ---------------------------------------------------------------------------


@register(
    "pipeline_dataset_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 0
    ),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
               THEN md5(text || '!') ELSE md5(text) END AS h
      FROM documents WHERE doc_id % 11 <> 0
    )
    SELECT
      CASE
        WHEN v1.doc_id IS NULL THEN 'added'
        WHEN v2.doc_id IS NULL THEN 'removed'
        WHEN v1.h <> v2.h THEN 'changed'
        ELSE 'unchanged'
      END AS change,
      COUNT(*) AS n,
      min(coalesce(v1.doc_id, v2.doc_id)) AS sample_id
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    GROUP BY 1
    """,
    tags=("versioning", "diff"),
)
def pipeline_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two dataset versions by key + row hash: added / removed /
    changed / unchanged counts with a sample key each.

    The audit companion to `write_snapshot` time travel: comparing two
    snapshots costs one keyed full-outer join of (key, md5(row))
    digests — rows themselves never move, only 2-column digests
    shuffle; at 100 TB both sides prune to key+hash at the scan.  The
    two versions here are deterministic filter/perturbation views of
    `documents` so the oracle reproduces them exactly."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"]
    v1 = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    v2 = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.md5(F.concat(F.col("text"), F.lit("!"))),
        )
        .otherwise(F.md5("text"))
        .alias("h"),
    )
    a = v1.select(
        F.col("doc_id").alias("id1"), F.col("h").alias("h1")
    )
    b = v2.select(
        F.col("doc_id").alias("id2"), F.col("h").alias("h2")
    )
    j = a.join(b, a.id1 == b.id2, "full_outer")
    change = (
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            change.alias("change"),
            F.coalesce(F.col("id1"), F.col("id2")).alias("k"),
        )
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("sample_id"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonality profile (weekday × hour activity matrix)
# ---------------------------------------------------------------------------


@register(
    "events_seasonality_profile",
    oracle=f"""
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,  -- DuckDB 0=Sun; Spark 1=Sun
           CAST({_EPOCH} // 3600 % 24 AS INT) AS hour_of_day,
           COUNT(*) AS n,
           round(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                 / COUNT(*) / 1000000.0, 6) AS mean_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("temporal", "seasonality"),
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour-of-day activity/value profile — the seasonality
    matrix behind load forecasting and anomaly baselines.

    One bounded aggregation (≤168 cells) with quantized-integer value
    sums; at any scale this is a single map-side-combinable pass."""
    t = load_tables(spark, sf_dir, ["events"])
    hour = (
        (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long")
        % 24
    ).cast("int")
    yq = F.floor(F.col("value") * 1000000 + 0.5).cast("long")
    return (
        t["events"]
        .select(
            F.dayofweek("ts").cast("int").alias("dow"),
            hour.alias("hour_of_day"),
            yq.alias("yq"),
        )
        .groupBy("dow", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("yq") / F.count(F.lit(1)) / 1000000.0, 6
            ).alias("mean_value"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quartile scores)
# ---------------------------------------------------------------------------


@register(
    "orders_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             max(CAST(floor(date_part('epoch', o_orderdate)) AS BIGINT))
               AS last_ts,
             COUNT(*) AS freq,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT quantile_cont(freq, 0.5) AS f_med,
             quantile_cont(monetary, 0.5) AS m_med,
             quantile_cont(last_ts, 0.5) AS r_med
      FROM base
    )
    SELECT
      CASE WHEN last_ts > r_med THEN 'recent' ELSE 'stale' END AS recency,
      CASE WHEN freq > f_med THEN 'frequent' ELSE 'rare' END AS frequency,
      CASE WHEN monetary > m_med THEN 'big' ELSE 'small' END AS monetary,
      COUNT(*) AS n_customers,
      CAST(round(sum(CAST(monetary AS DECIMAL(18,2))), 2) AS DOUBLE)
        AS segment_revenue
    FROM base, cuts
    GROUP BY 1, 2, 3
    """,
    tags=("rfm", "segmentation"),
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers bucketed by median splits on
    recency / frequency / monetary, with per-segment revenue.

    The classical marketing-analytics rollup, scale-shaped: one
    groupBy(customer) builds the per-customer base; the three split
    points are ONE exact-percentile aggregation over that bounded base
    (approx_percentile at extreme scale), broadcast back as a 1-row
    cross join; segment assignment is then pure codegen comparison."""
    t = load_tables(spark, sf_dir, ["orders"])
    base = t["orders"].groupBy("o_custkey").agg(
        F.max(F.unix_timestamp("o_orderdate").cast("long")).alias(
            "last_ts"
        ),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    cuts = base.agg(
        F.expr("percentile(freq, 0.5)").alias("f_med"),
        F.expr("percentile(monetary, 0.5)").alias("m_med"),
        F.expr("percentile(last_ts, 0.5)").alias("r_med"),
    )
    j = base.crossJoin(F.broadcast(cuts))
    return (
        j.select(
            F.when(F.col("last_ts") > F.col("r_med"), "recent")
            .otherwise("stale")
            .alias("recency"),
            F.when(F.col("freq") > F.col("f_med"), "frequent")
            .otherwise("rare")
            .alias("frequency"),
            F.when(F.col("monetary") > F.col("m_med"), "big")
            .otherwise("small")
            .alias("monetary_band"),
            "monetary",
        )
        .groupBy(
            "recency",
            F.col("frequency"),
            F.col("monetary_band").alias("monetary"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("monetary").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("segment_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Conversion attribution (last-touch within a lookback window)
# ---------------------------------------------------------------------------


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type, value,
        {_EPOCH} - 1700000000 AS ts_sec,
        max(CASE WHEN event_type IN ('view', 'click')
            THEN ({_EPOCH} - 1700000000) * 10000000000 + event_id
            END) OVER (
          PARTITION BY user_id ORDER BY {_EPOCH}, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS touch_key,
        max(CASE WHEN event_type IN ('view', 'click')
            THEN event_type END) OVER (
          PARTITION BY user_id ORDER BY {_EPOCH}, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) IS NOT NULL AS has_touch
      FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           event_id AS purchase_id,
           value AS purchase_value,
           CASE WHEN touch_key IS NULL THEN -1
                ELSE CAST(touch_key % 10000000000 AS BIGINT)
           END AS touch_event_id,
           CASE WHEN touch_key IS NULL THEN 0
                WHEN ts_sec - touch_key // 10000000000 <= 7200 THEN 1
                ELSE 0 END AS within_window
    FROM seq WHERE event_type = 'purchase'
    """,
    tags=("temporal", "attribution"),
)
def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the most
    recent preceding view/click by the same user, flagged whether it
    fell inside a 2-hour lookback window.

    The ad-analytics attribution shape as pure window algebra: a
    running conditional MAX over (ts, event_id) packed into one sortable
    key finds the latest touch WITHOUT a self-join — one shuffle on
    user_id, one window pass, the purchase filter afterwards.  (The
    join formulation would shuffle events twice and explode on
    high-activity users.)"""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long") - F.lit(1700000000)
    is_touch = F.col("event_type").isin("view", "click")
    touch_key = F.when(
        is_touch, ts * F.lit(10000000000) + F.col("event_id")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seq = t["events"].select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_id",
        "event_type",
        "value",
        ts.alias("ts_sec"),
        touch_key.alias("tk"),
    )
    seq = seq.withColumn("touch_key", F.max("tk").over(w))
    return seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
        F.when(F.col("touch_key").isNull(), F.lit(-1))
        .otherwise((F.col("touch_key") % 10000000000).cast("long"))
        .alias("touch_event_id"),
        F.when(F.col("touch_key").isNull(), 0)
        .when(
            F.col("ts_sec") - F.floor(F.col("touch_key") / 10000000000)
            <= 7200,
            1,
        )
        .otherwise(0)
        .alias("within_window"),
    )


# ---------------------------------------------------------------------------
# Join-skew diagnostic report (the advisor in front of salting/AQE)
# ---------------------------------------------------------------------------


@register(
    "pipeline_skew_report",
    oracle="""
    WITH keyed AS (
      SELECT CAST(user_id AS BIGINT) AS k, COUNT(*) AS cnt
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT sum(cnt) AS n, COUNT(*) AS n_keys,
                   max(cnt) AS max_cnt FROM keyed)
    SELECT k, cnt,
           round(cnt * 1.0 / n, 6) AS share,
           CASE WHEN cnt * n_keys > 10 * n THEN 1 ELSE 0 END
             AS salt_recommended
    FROM (
      SELECT k, cnt, row_number() OVER (ORDER BY cnt DESC, k) AS rk
      FROM keyed
    ), tot
    WHERE rk <= 10
    """,
    tags=("monitor", "skew", "advisor"),
)
def pipeline_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg skew advisor: the 10 heaviest keys with their share of
    the table and a salting recommendation (key >10× the mean load).

    The diagnostic to run BEFORE a big keyed join: per-key counts are
    one map-side-combinable aggregation; the top-10 is a
    TakeOrderedAndProject heap (never a global sort); totals broadcast.
    Feeds the `agg_salted_skew`/`join_skew_salted` remediations and the
    AQE skew-join threshold choice."""
    t = load_tables(spark, sf_dir, ["events"])
    keyed = t["events"].groupBy(
        F.col("user_id").cast("long").alias("k")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = keyed.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    top = keyed.orderBy(F.desc("cnt"), F.asc("k")).limit(10)
    return top.crossJoin(F.broadcast(tot)).select(
        "k",
        "cnt",
        F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        F.when(
            F.col("cnt") * F.col("n_keys") > 10 * F.col("n"), 1
        )
        .otherwise(0)
        .alias("salt_recommended"),
    )


# ---------------------------------------------------------------------------
# Watermark advisor: event-lateness profile per stream
# ---------------------------------------------------------------------------


@register(
    "events_lateness_profile",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             max({_EPOCH}) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - {_EPOCH} AS late_sec
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(max(late_sec) AS BIGINT) AS max_late_sec,
           round(quantile_cont(late_sec, 0.5), 4) AS p50_late,
           round(quantile_cont(late_sec, 0.95), 4) AS p95_late,
           CAST(sum(CASE WHEN late_sec > 600 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_over_10min
    FROM seq GROUP BY event_type
    """,
    tags=("streaming", "watermark", "advisor"),
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark advisor: per-stream event-lateness distribution
    (running max event time in *arrival* order minus each event's own
    time).

    This is the measurement that justifies a watermark choice: p95/max
    lateness bound the state horizon the streaming operators
    (`stream_*`) must keep, and n_over_10min counts the rows a
    10-minute watermark would drop.  Arrival order is event_id (the
    ingestion sequence); one window pass per stream key + one bounded
    aggregation."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    seq = t["events"].select(
        "event_type", "event_id", ts.alias("ts_sec")
    ).withColumn("late_sec", F.max("ts_sec").over(w) - F.col("ts_sec"))
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("late_sec").cast("long").alias("max_late_sec"),
        F.round(F.expr("percentile(late_sec, 0.5)"), 4).alias("p50_late"),
        F.round(F.expr("percentile(late_sec, 0.95)"), 4).alias("p95_late"),
        F.sum(F.when(F.col("late_sec") > 600, 1).otherwise(0))
        .cast("long")
        .alias("n_over_10min"),
    )


# ---------------------------------------------------------------------------
# Forecast baseline: seasonal-naive prediction + MAE evaluation
# ---------------------------------------------------------------------------


@register(
    "events_forecast_baseline",
    oracle=f"""
    WITH hourly AS (
      SELECT ({_EPOCH} // 3600) * 3600 AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    joined AS (
      SELECT cur.event_type, cur.h, cur.n,
             prev.n AS predicted
      FROM hourly cur JOIN hourly prev
        ON prev.event_type = cur.event_type
       AND prev.h = cur.h - 86400
    )
    SELECT event_type,
           COUNT(*) AS n_hours,
           CAST(sum(abs(n - predicted)) AS BIGINT) AS total_abs_err,
           round(sum(abs(n - predicted)) * 1.0 / COUNT(*), 4) AS mae,
           round(sum(abs(n - predicted)) * 1.0 / sum(n), 6)
             AS wape
    FROM joined GROUP BY event_type
    """,
    tags=("temporal", "forecast", "baseline"),
)
def events_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each hour's event
    count with the same hour yesterday, report MAE and WAPE per stream.

    The baseline every real forecasting model must beat — and the
    pattern for backtesting any of them at scale: the hourly rollup is
    one bounded aggregation, the lag join is a self-equi-join on
    (type, hour−24h) over that bounded table, and the error rollup is
    exact integer arithmetic."""
    t = load_tables(spark, sf_dir, ["events"])
    hour = (
        (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long")
        * 3600
    ).alias("h")
    hourly = t["events"].groupBy(hour, F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    prev = hourly.select(
        F.col("event_type"),
        (F.col("h") + 86400).alias("h"),
        F.col("n").alias("predicted"),
    )
    joined = hourly.join(prev, ["event_type", "h"])
    err = F.abs(F.col("n") - F.col("predicted"))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(err).cast("long").alias("total_abs_err"),
        F.round(F.sum(err) / F.count(F.lit(1)), 4).alias("mae"),
        F.round(F.sum(err) / F.sum("n"), 6).alias("wape"),
    )


# ---------------------------------------------------------------------------
# Process mining: event-transition matrix per user journey
# ---------------------------------------------------------------------------


@register(
    "events_transition_matrix",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY {_EPOCH}, event_id
             ) AS prev_type
      FROM events
    )
    SELECT coalesce(prev_type, '_start') AS from_type,
           event_type AS to_type,
           COUNT(*) AS n,
           CASE WHEN coalesce(prev_type, '_start') = '_start'
                 AND event_type = 'purchase' THEN 1 ELSE 0 END
             AS suspicious
    FROM seq GROUP BY 1, 2
    """,
    tags=("temporal", "process-mining"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining transition matrix: counts of (previous event →
    event) per user journey, with journey starts as '_start' and a flag
    on suspicious first steps (a purchase with no preceding activity).

    One user-keyed window pass (lag) + one bounded aggregation
    (|types|² cells) — the journey-audit primitive behind funnel
    debugging and bot screening."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    w = W.partitionBy("user_id").orderBy("ts_sec", "event_id")
    seq = t["events"].select(
        "user_id", "event_id", "event_type", ts.alias("ts_sec")
    ).withColumn("prev_type", F.lag("event_type").over(w))
    from_type = F.coalesce(F.col("prev_type"), F.lit("_start"))
    return (
        seq.select(
            from_type.alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "suspicious",
            F.when(
                (F.col("from_type") == "_start")
                & (F.col("to_type") == "purchase"),
                1,
            ).otherwise(0),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka-style two-stage retrieval: prefix-dim coarse + full re-rank
# ---------------------------------------------------------------------------


@register(
    "sim_prefix_rerank_topk",
    oracle="""
    WITH emb AS (
      SELECT vec_id, embedding AS v,
             list_max(list_transform(embedding, x -> abs(x))) AS mx
      FROM embeddings
    ),
    q8 AS (
      SELECT vec_id,
             list_transform(v, x -> CASE WHEN mx = 0 THEN 0
               ELSE CAST(floor(x * 127.0 / mx + 0.5) AS INT) END) AS qv
      FROM emb
    ),
    qs AS (SELECT vec_id AS q_id, qv AS qq FROM q8 WHERE vec_id < 5),
    coarse AS (
      SELECT q_id, c.vec_id AS cand_id, c.qv,
             CAST(list_sum(list_transform(range(1, 17),
               i -> qq[i] * c.qv[i])) AS BIGINT) AS cscore
      FROM qs, q8 c WHERE c.vec_id <> q_id
    ),
    shortlist AS (
      SELECT q_id, cand_id, qv FROM (
        SELECT q_id, cand_id, qv,
               row_number() OVER (
                 PARTITION BY q_id ORDER BY cscore DESC, cand_id) AS rk
        FROM coarse
      ) WHERE rk <= 50
    ),
    rerank AS (
      SELECT s.q_id, s.cand_id,
             CAST(list_sum(list_transform(range(1, len(q.qq) + 1),
               i -> q.qq[i] * s.qv[i])) AS BIGINT) AS fscore
      FROM shortlist s JOIN qs q ON q.q_id = s.q_id
    )
    SELECT q_id, cand_id, fscore FROM (
      SELECT q_id, cand_id, fscore,
             row_number() OVER (
               PARTITION BY q_id ORDER BY fscore DESC, cand_id) AS rk
      FROM rerank
    ) WHERE rk <= 10
    """,
    tags=("similarity", "matryoshka", "rerank"),
)
def sim_prefix_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval in the Matryoshka style: coarse scoring on
    the first 16 embedding dimensions shortlists 50 candidates per
    query, full-dimension scoring re-ranks to the final top-10.

    At 100 TB the coarse stage reads a 4× narrower slice of every
    vector (prefix dims can even live in their own parquet column for
    pure column pruning), and the expensive full-width arithmetic runs
    on 50 rows per query instead of the corpus.  All arithmetic is on
    the shared int8 quantization, so both stages are bit-stable;
    both top-k cuts plan as WindowGroupLimit heaps."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"].select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.array_max(
            F.transform(F.col("embedding"), lambda x: F.abs(x))
        ).alias("mx"),
    )
    q8 = emb.select(
        "vec_id",
        F.transform(
            F.col("v"),
            lambda x: F.when(F.col("mx") == 0, F.lit(0)).otherwise(
                F.floor(x * 127.0 / F.col("mx") + 0.5).cast("int")
            ),
        ).alias("qv"),
    )
    qs = q8.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("qq")
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    coarse = (
        q8.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            "qv",
            dot(F.slice("qq", 1, 16), F.slice("qv", 1, 16)).alias(
                "cscore"
            ),
        )
    )
    rk1 = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.desc("cscore"), F.asc("cand_id"))
    )
    shortlist = coarse.withColumn("rk", rk1).filter(F.col("rk") <= 50)
    rerank = shortlist.join(F.broadcast(qs), "q_id").select(
        "q_id", "cand_id", dot(F.col("qq"), F.col("qv")).alias("fscore")
    )
    rk2 = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.desc("fscore"), F.asc("cand_id"))
    )
    return (
        rerank.withColumn("rk", rk2)
        .filter(F.col("rk") <= 10)
        .select("q_id", "cand_id", "fscore")
    )


# ---------------------------------------------------------------------------
# Dataset card: one-row corpus summary
# ---------------------------------------------------------------------------


@register(
    "pipeline_dataset_card",
    oracle="""
    WITH per_doc AS (
      SELECT doc_id, md5(text) AS h, lang, source, n_chars,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT h) AS n_unique,
           round(1.0 - COUNT(DISTINCT h) * 1.0 / COUNT(*), 6)
             AS dup_rate,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           round(sum(n_chars) * 1.0 / COUNT(*), 4) AS mean_chars
    FROM per_doc
    """,
    tags=("pipeline", "dataset-card"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus size, exact-dup rate, token total,
    language/source diversity, length envelope — the summary block at
    the top of a dataset release.

    Everything folds into ONE aggregation pass over per-doc features
    (count-distinct of 32-byte digests stands in for content identity);
    at 100 TB the two COUNT(DISTINCT)s swap to approx_count_distinct
    and the card stays a single job."""
    t = load_tables(spark, sf_dir, ["documents"])
    per_doc = t["documents"].select(
        "doc_id",
        F.md5("text").alias("h"),
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("h").alias("n_unique"),
        # try_divide: the ratios are NULL (not an ANSI error) on an
        # empty corpus; identical to plain `/` whenever n_docs > 0
        F.round(
            1.0 - F.try_divide(F.count_distinct("h"), F.count(F.lit(1))),
            6,
        ).alias("dup_rate"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(
            F.try_divide(F.sum("n_chars"), F.count(F.lit(1))), 4
        ).alias("mean_chars"),
    )


# ---------------------------------------------------------------------------
# Concentration: Gini coefficient + top-decile share of event volume
# ---------------------------------------------------------------------------


@register(
    "events_concentration_gini",
    oracle="""
    WITH per_user AS (
      SELECT CAST(user_id AS BIGINT) AS u, COUNT(*) AS cnt
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt, u) AS rk
      FROM per_user
    ),
    tot AS (
      SELECT COUNT(*) AS n, sum(cnt) AS s,
             sum(CAST(rk AS HUGEINT) * cnt) AS rs
      FROM ranked
    ),
    decile AS (
      SELECT sum(cnt) AS top_cnt FROM (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, u) AS drk
        FROM per_user
      ), tot WHERE drk <= greatest(n // 10, 1)
    )
    SELECT n AS n_users,
           CAST(s AS BIGINT) AS n_events,
           round(CAST(2 * rs AS DOUBLE) / (CAST(n AS DOUBLE) * s)
                 - (n + 1.0) / n, 6) AS gini,
           round(top_cnt * 1.0 / s, 6) AS top_decile_share
    FROM tot, decile
    """,
    tags=("monitor", "concentration", "gini"),
)
def events_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-concentration report: Gini coefficient of per-user event
    counts plus the top-decile share — the inequality measure behind
    "10% of users produce 80% of traffic" findings (and the skew early
    warning for any per-user keyed operation).

    Gini comes from the rank-sum identity (2·Σrᵢxᵢ)/(n·Σxᵢ) − (n+1)/n —
    exact integer rank sums (HUGEINT/DECIMAL(38,0)), one ranking window
    over the BOUNDED per-user aggregate, not the event stream."""
    t = load_tables(spark, sf_dir, ["events"])
    per_user = t["events"].groupBy(
        F.col("user_id").cast("long").alias("u")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # rank-sum over TIE GROUPS: users sharing a count occupy a
    # consecutive rank block, and the block's Σrank is closed-form —
    # so the only ordered pass runs over the DISTINCT count values
    # (a tiny table at any scale), never the per-user rows.  The
    # per-user rank order among ties is arbitrary but the rank-sum is
    # tie-order independent, so this is exactly the naive ranking.
    per_cnt = per_user.groupBy("cnt").agg(F.count(F.lit(1)).alias("k"))
    dec = "decimal(38,0)"
    asc = W.orderBy("cnt").rowsBetween(W.unboundedPreceding, -1)
    grouped = per_cnt.withColumn(
        "lower", F.coalesce(F.sum("k").over(asc), F.lit(0))
    )
    blk = F.col("cnt").cast(dec) * (
        F.col("k").cast(dec) * F.col("lower").cast(dec)
        + (F.col("k").cast(dec) * (F.col("k") + 1)) / 2
    )
    tot = grouped.agg(
        F.sum("k").alias("n"),
        F.sum(F.col("cnt").cast(dec) * F.col("k")).alias("s"),
        F.sum(blk).alias("rs"),
    )
    # top-decile share from the same tie-group table: descending
    # cumulative user counts, full blocks + the boundary block's
    # partial contribution (tie-order independent again)
    desc_w = W.orderBy(F.desc("cnt")).rowsBetween(W.unboundedPreceding, -1)
    dgrouped = per_cnt.withColumn(
        "before", F.coalesce(F.sum("k").over(desc_w), F.lit(0))
    ).crossJoin(F.broadcast(tot.select("n")))
    m = F.greatest(F.floor(F.col("n") / 10), F.lit(1))
    take = F.least(F.col("k").cast("long"), m - F.col("before"))
    decile = dgrouped.filter(F.col("before") < m).agg(
        F.sum(F.col("cnt") * take).alias("top_cnt")
    )
    return tot.crossJoin(F.broadcast(decile)).select(
        F.col("n").alias("n_users"),
        F.col("s").cast("long").alias("n_events"),
        F.round(
            (F.lit(2) * F.col("rs")).cast("double")
            / (F.col("n").cast("double") * F.col("s").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
        F.round(F.col("top_cnt") / F.col("s"), 6).alias(
            "top_decile_share"
        ),
    )


# ---------------------------------------------------------------------------
# Burst detection: hourly-rate z-screen per stream
# ---------------------------------------------------------------------------


@register(
    "events_burst_hours",
    oracle=f"""
    WITH hourly AS (
      SELECT ({_EPOCH} // 3600) * 3600 AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, COUNT(*) AS nh,
             sum(n) AS sn, sum(CAST(n AS HUGEINT) * n) AS snn
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, h.h AS hour_start, h.n,
           round((h.n - sn * 1.0 / nh)
                 / sqrt((CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nh)
                        / (nh - 1)), 4) AS rate_z
    FROM hourly h JOIN stats s ON h.event_type = s.event_type
    WHERE (h.n - sn * 1.0 / nh)
          / sqrt((CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nh)
                 / (nh - 1)) > 3
    """,
    tags=("monitor", "burst"),
)
def events_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detector: hours whose event RATE exceeds the stream's mean
    hourly rate by >3σ (the traffic-spike complement of the per-value
    outlier screens).

    Runs entirely on the bounded hourly rollup; per-stream moments are
    exact integer sums broadcast back onto it."""
    t = load_tables(spark, sf_dir, ["events"])
    hour = (
        (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long")
        * 3600
    ).alias("h")
    hourly = t["events"].groupBy(hour, F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    dec = "decimal(38,0)"
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n").cast(dec) * F.col("n")).alias("snn"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    mean = F.col("sn") / F.col("nh")
    # try_divide twice: a type with one hour has no sample variance, and
    # constant hourly counts give sd = 0 — both yield NULL z (filtered
    # out), matching the oracle's NULL on /0
    var = F.try_divide(
        F.col("snn").cast("double")
        - F.col("sn").cast("double") * F.col("sn") / F.col("nh"),
        F.col("nh") - 1,
    )
    z = F.try_divide(F.col("n") - mean, F.sqrt(var))
    return j.filter(z > 3).select(
        "event_type",
        F.col("h").alias("hour_start"),
        "n",
        F.round(z, 4).alias("rate_z"),
    )


# ---------------------------------------------------------------------------
# Changepoint detection: CUSUM peak per stream
# ---------------------------------------------------------------------------


@register(
    "events_changepoint_cusum",
    oracle=f"""
    WITH hourly AS (
      SELECT ({_EPOCH} // 3600) * 3600 AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, COUNT(*) AS nh, sum(n) AS sn
      FROM hourly GROUP BY event_type
    ),
    walk AS (
      SELECT h.event_type, h.h,
        sum(CAST(h.n AS HUGEINT) * nh - sn) OVER (
          PARTITION BY h.event_type ORDER BY h.h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS cusum_scaled
      FROM hourly h JOIN stats s ON h.event_type = s.event_type
    )
    SELECT event_type, h AS change_hour,
           round(CAST(abs(cusum_scaled) AS DOUBLE)
                 / (SELECT nh FROM stats s2
                    WHERE s2.event_type = walk.event_type), 4)
             AS cusum_peak
    FROM walk
    QUALIFY row_number() OVER (
      PARTITION BY event_type
      ORDER BY abs(cusum_scaled) DESC, h) = 1
    """,
    tags=("monitor", "changepoint", "cusum"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detector: the hour where each stream's
    cumulative deviation from its mean rate peaks — the classical
    single-changepoint location estimate for a level shift.

    The walk Σ(xᵢ−μ) is computed in SCALED integers (xᵢ·nh − Σx, exact
    DECIMAL/HUGEINT — no float drift along the cumulative sum); one
    window pass over the bounded hourly rollup, peak pick per stream is
    a WindowGroupLimit head."""
    t = load_tables(spark, sf_dir, ["events"])
    hour = (
        (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long")
        * 3600
    ).alias("h")
    hourly = t["events"].groupBy(hour, F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    dec = "decimal(38,0)"
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nh"), F.sum("n").alias("sn")
    )
    wsum = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    walk = hourly.join(F.broadcast(stats), "event_type").withColumn(
        "cusum_scaled",
        F.sum(
            F.col("n").cast(dec) * F.col("nh") - F.col("sn")
        ).over(wsum),
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(
            F.desc(F.abs(F.col("cusum_scaled"))), F.asc("h")
        )
    )
    return (
        walk.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("h").alias("change_hour"),
            F.round(
                F.abs(F.col("cusum_scaled")).cast("double")
                / F.col("nh"),
                4,
            ).alias("cusum_peak"),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical percent-of-parent rollup (nation → region → total)
# ---------------------------------------------------------------------------


@register(
    "orders_share_hierarchy",
    oracle="""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation,
           CAST(round(rev, 2) AS DOUBLE) AS revenue,
           round(rev / sum(rev) OVER (PARTITION BY region), 6)
             AS share_of_region,
           round(sum(rev) OVER (PARTITION BY region)
                 / sum(rev) OVER (), 6) AS region_share_of_total
    FROM nat
    """,
    tags=("rollup", "hierarchy", "share"),
)
def orders_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent: each nation's revenue share of
    its region and each region's share of the total, in one result.

    The BI drill-path shape: ONE fact aggregation to the leaf grain
    (nation), then window sums over the BOUNDED aggregate supply both
    parent totals — the fact table is scanned and shuffled exactly
    once, and exact decimal sums make the shares engine-identical."""
    t = load_tables(
        spark, sf_dir, ["orders", "customer", "nation", "region"]
    )
    nat = (
        t["orders"]
        .join(
            t["customer"],
            t["orders"].o_custkey == t["customer"].c_custkey,
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"]),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "rev"
            )
        )
    )
    wr = W.partitionBy("region")
    wt = W.partitionBy()
    return nat.select(
        "region",
        "nation",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(wr), 6).alias(
            "share_of_region"
        ),
        F.round(
            F.sum("rev").over(wr) / F.sum("rev").over(wt), 6
        ).alias("region_share_of_total"),
    )


# ---------------------------------------------------------------------------
# Zipf-law fit: log-log slope of the token rank/frequency curve
# ---------------------------------------------------------------------------


@register(
    "text_zipf_fit",
    oracle="""
    WITH cnt AS (
      SELECT tok, COUNT(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) GROUP BY tok
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk
      FROM cnt
    ),
    pts AS (
      SELECT CAST(floor(ln(rk) * 1000000000 + 0.5) AS BIGINT) AS lx,
             CAST(floor(ln(c) * 1000000000 + 0.5) AS BIGINT) AS ly
      FROM ranked WHERE rk <= 200
    ),
    s AS (
      SELECT COUNT(*) AS n, sum(CAST(lx AS HUGEINT)) AS sx,
             sum(CAST(ly AS HUGEINT)) AS sy,
             sum(CAST(lx AS HUGEINT) * lx) AS sxx,
             sum(CAST(lx AS HUGEINT) * ly) AS sxy
      FROM pts
    )
    SELECT n AS n_points,
           round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE),
                 4) AS zipf_slope
    FROM s
    """,
    tags=("text", "zipf", "corpus-stats"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: least-squares slope of log(frequency) vs log(rank)
    over the top-200 tokens — natural corpora sit near −1; templated or
    synthetic text deviates, making this a one-number corpus-health
    check alongside entropy.

    The token count is the standard explode+groupBy; only the top-200
    ranks feed the regression (a TakeOrderedAndProject heap), and the
    normal-equation sums run on 1e-9-quantized log values as exact
    integers — the same order-independent regression scheme as
    `events_value_trend`."""
    t = load_tables(spark, sf_dir, ["documents"])
    cnt = (
        t["documents"]
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = cnt.orderBy(F.desc("c"), F.asc("tok")).limit(200)
    ranked = top.withColumn(
        "rk", F.row_number().over(W.orderBy(F.desc("c"), F.asc("tok")))
    )
    lx = F.floor(F.log(F.col("rk")) * 1000000000 + 0.5).cast("long")
    ly = F.floor(F.log(F.col("c")) * 1000000000 + 0.5).cast("long")
    dec = "decimal(38,0)"
    pts = ranked.select(lx.alias("lx"), ly.alias("ly"))
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("lx").cast(dec)).alias("sx"),
        F.sum(F.col("ly").cast(dec)).alias("sy"),
        F.sum(F.col("lx").cast(dec) * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx").cast(dec) * F.col("ly")).alias("sxy"),
    )
    num = F.col("n").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").alias("n_points"),
        F.round(num.cast("double") / den.cast("double"), 4).alias(
            "zipf_slope"
        ),
    )


# ---------------------------------------------------------------------------
# Neyman-optimal stratified sampling allocation
# ---------------------------------------------------------------------------


@register(
    "sample_neyman_allocation",
    oracle="""
    WITH m AS (
      SELECT event_type, COUNT(*) AS nh,
             sum(CAST(floor(value * 1000000 + 0.5) AS HUGEINT)) AS sy,
             sum(CAST(floor(value * 1000000 + 0.5) AS HUGEINT)
                 * CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS syy
      FROM events GROUP BY event_type
    ),
    sd AS (
      SELECT event_type, nh,
             sqrt((CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / nh)
                  / (nh - 1)) / 1000000.0 AS sigma
      FROM m
    ),
    tot AS (
      SELECT sum(CAST(floor(nh * sigma * 1000000 + 0.5) AS HUGEINT))
               AS w FROM sd
    )
    SELECT event_type, CAST(nh AS BIGINT) AS stratum_size,
           round(sigma, 4) AS sigma,
           round(CAST(floor(nh * sigma * 1000000 + 0.5) AS DOUBLE)
                 / CAST(w AS DOUBLE), 6) AS neyman_share,
           CAST(floor(1000 * CAST(floor(nh * sigma * 1000000 + 0.5)
                      AS DOUBLE) / CAST(w AS DOUBLE) + 0.5) AS BIGINT)
             AS n_alloc_1000
    FROM sd, tot
    """,
    tags=("sampling", "neyman", "allocation"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation: each stratum's
    share of a 1000-row sample ∝ Nₕ·σₕ — minimum-variance estimation
    of the population mean, vs the proportional allocation
    `sample_stratified` uses.

    Per-stratum moments are exact quantized-integer sums (one
    aggregation); the weight normalization quantizes Nₕ·σₕ before the
    ratio so shares are bit-stable.  The allocation table then drives
    any deterministic md5-fraction sampler."""
    t = load_tables(spark, sf_dir, ["events"])
    yq = F.floor(F.col("value") * 1000000 + 0.5).cast("long")
    dec = "decimal(38,0)"
    m = t["events"].select("event_type", yq.alias("yq")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(F.col("yq").cast(dec)).alias("sy"),
        F.sum(F.col("yq").cast(dec) * F.col("yq")).alias("syy"),
    )
    sigma = (
        F.sqrt(
            # try_divide: a one-row stratum has no sample variance ->
            # NULL sigma, matching the oracle's NULL on /0
            F.try_divide(
                F.col("syy").cast("double")
                - F.col("sy").cast("double")
                * F.col("sy").cast("double")
                / F.col("nh"),
                F.col("nh") - 1,
            )
        )
        / 1000000.0
    )
    sd = m.select(
        "event_type", "nh", sigma.alias("sigma")
    ).withColumn(
        "wq",
        F.floor(F.col("nh") * F.col("sigma") * 1000000 + 0.5).cast(
            dec
        ),
    )
    tot = sd.agg(F.sum("wq").alias("w"))
    return sd.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("nh").cast("long").alias("stratum_size"),
        F.round("sigma", 4).alias("sigma"),
        # try_divide: zero total weight (all-constant strata) -> NULL
        # shares, matching the oracle's NULL on /0
        F.round(
            F.try_divide(
                F.col("wq").cast("double"), F.col("w").cast("double")
            ),
            6,
        ).alias("neyman_share"),
        F.floor(
            F.try_divide(
                1000 * F.col("wq").cast("double"),
                F.col("w").cast("double"),
            )
            + 0.5
        )
        .cast("long")
        .alias("n_alloc_1000"),
    )


# ---------------------------------------------------------------------------
# ABC classification: weighted cumulative distribution without global sort
# ---------------------------------------------------------------------------


@register(
    "orders_abc_parts",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(CAST(cents AS HUGEINT)) AS t FROM pr),
    cum AS (
      SELECT cents,
             sum(CAST(cents AS HUGEINT)) OVER (
               ORDER BY cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS c
      FROM pr
    )
    SELECT CASE WHEN 100 * c <= 80 * t THEN 'A'
                WHEN 100 * c <= 95 * t THEN 'B'
                ELSE 'C' END AS abc_class,
           COUNT(*) AS n_parts,
           CAST(round(sum(cents) / 100.0, 2) AS DOUBLE) AS revenue,
           round(CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
                 / CAST(max(t) AS DOUBLE), 6) AS share
    FROM cum, tot
    GROUP BY 1
    """,
    tags=("abc", "pareto", "classification"),
)
def orders_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (80/15/5) classification of parts by revenue — the weighted
    cumulative-distribution operator, built WITHOUT a global sort.

    The scale pattern (same family as the NTILE rewrite): approx-
    percentile cutpoints split parts into ~16 revenue-range buckets;
    per-bucket totals (tiny) provide exact prefix offsets; the exact
    cumulative then needs only a bucket-partitioned window.  Cutpoint
    placement affects parallelism, never the answer — boundaries and
    class cuts are exact integer-cents comparisons, so the result is
    identical to the oracle's naive global cumulative."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    pr = t["lineitem"].groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        ).alias("cents")
    )
    cuts = pr.agg(
        F.expr(
            "approx_percentile(cents, array("
            + ",".join(str((i + 1) / 16.0) for i in range(15))
            + "))"
        ).alias("cut")
    ).collect()[0]["cut"] or []  # empty input: no cutpoints, one bucket
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + (F.col("cents") <= F.lit(int(c))).cast("int")
    # bucket 0 = highest revenue range (fewest <= cutpoints)
    dec = "decimal(38,0)"
    b = pr.withColumn("bkt", bucket)
    per_bkt = b.groupBy("bkt").agg(
        F.sum(F.col("cents").cast(dec)).alias("bt")
    )
    higher = (
        W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    )  # tiny table: ≤17 rows
    offsets = per_bkt.withColumn(
        "off", F.coalesce(F.sum("bt").over(higher), F.lit(0).cast(dec))
    )
    tot = per_bkt.agg(F.sum("bt").alias("t"))
    win = (
        W.partitionBy("bkt")
        .orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = (
        b.withColumn("wc", F.sum(F.col("cents").cast(dec)).over(win))
        .join(F.broadcast(offsets.select("bkt", "off")), "bkt")
        .withColumn("c", F.col("off") + F.col("wc"))
        .crossJoin(F.broadcast(tot))
    )
    cls = (
        F.when(100 * F.col("c") <= 80 * F.col("t"), "A")
        .when(100 * F.col("c") <= 95 * F.col("t"), "B")
        .otherwise("C")
    )
    return (
        cum.select(cls.alias("abc_class"), "cents", "t")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("cents") / 100.0, 2)
            .cast("double")
            .alias("revenue"),
            F.round(
                F.sum(F.col("cents").cast(dec)).cast("double")
                / F.max("t").cast("double"),
                6,
            ).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-horizon velocity features (fraud/abuse-style rate features)
# ---------------------------------------------------------------------------


@register(
    "events_velocity_features",
    oracle=f"""
    WITH mx AS (
      SELECT CAST(user_id AS BIGINT) AS user_id,
             max({_EPOCH}) AS last_ts
      FROM events GROUP BY user_id
    )
    SELECT m.user_id, m.last_ts,
           CAST(sum(CASE WHEN {_EPOCH} > m.last_ts - 3600
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_1h,
           CAST(sum(CASE WHEN {_EPOCH} > m.last_ts - 21600
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_6h,
           CAST(sum(CASE WHEN {_EPOCH} > m.last_ts - 86400
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_24h
    FROM events e JOIN mx m ON CAST(e.user_id AS BIGINT) = m.user_id
    GROUP BY m.user_id, m.last_ts
    """,
    tags=("temporal", "velocity", "features"),
)
def events_velocity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity features at each user's most recent event: activity
    counts over trailing 1 h / 6 h / 24 h horizons — the fraud/abuse
    rate-limiting feature block.

    All three horizons fold into ONE conditional aggregation after a
    same-key join of the per-user anchor (max ts) back onto the
    stream — the anchor table and the aggregation share the user_id
    partitioning, so the event stream shuffles once."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    e = t["events"].select(
        F.col("user_id").cast("long").alias("user_id"),
        ts.alias("ts_sec"),
    )
    mx = e.groupBy("user_id").agg(F.max("ts_sec").alias("last_ts"))
    j = e.join(mx, "user_id")
    h = lambda sec, name: F.sum(  # noqa: E731
        F.when(F.col("ts_sec") > F.col("last_ts") - sec, 1).otherwise(0)
    ).cast("long").alias(name)
    return j.groupBy("user_id", "last_ts").agg(
        h(3600, "n_1h"), h(21600, "n_6h"), h(86400, "n_24h")
    )


# ---------------------------------------------------------------------------
# LSH bucket-occupancy histogram (collision health / tuning)
# ---------------------------------------------------------------------------


@register(
    "sim_lsh_occupancy",
    oracle="""
    WITH b AS (
      SELECT bucket, COUNT(*) AS sz FROM (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST((CASE WHEN list_dot_product(embedding::DOUBLE[], [1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0]::DOUBLE[]) >= 0 THEN 1 ELSE 0 END) + (CASE WHEN list_dot_product(embedding::DOUBLE[], [-1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0]::DOUBLE[]) >= 0 THEN 2 ELSE 0 END) + (CASE WHEN list_dot_product(embedding::DOUBLE[], [1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0]::DOUBLE[]) >= 0 THEN 4 ELSE 0 END) + (CASE WHEN list_dot_product(embedding::DOUBLE[], [1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0]::DOUBLE[]) >= 0 THEN 8 ELSE 0 END) + (CASE WHEN list_dot_product(embedding::DOUBLE[], [1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0]::DOUBLE[]) >= 0 THEN 16 ELSE 0 END) + (CASE WHEN list_dot_product(embedding::DOUBLE[], [-1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0]::DOUBLE[]) >= 0 THEN 32 ELSE 0 END) + (CASE WHEN list_dot_product(embedding::DOUBLE[], [1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0]::DOUBLE[]) >= 0 THEN 64 ELSE 0 END) + (CASE WHEN list_dot_product(embedding::DOUBLE[], [-1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0]::DOUBLE[]) >= 0 THEN 128 ELSE 0 END) AS INT) AS bucket
        FROM embeddings
      ) GROUP BY bucket
    )
    SELECT sz AS bucket_size,
           COUNT(*) AS n_buckets,
           CAST(sum(CAST(sz AS HUGEINT) * (sz - 1) / 2) AS BIGINT)
             AS candidate_pairs
    FROM b GROUP BY sz
    """,
    tags=("similarity", "lsh", "tuning"),
)
def sim_lsh_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy histogram: how many buckets hold how many
    vectors, and the candidate-pair load (Σ sz·(sz−1)/2) each size
    class contributes.

    The collision-health check that predicts an ANN config's join cost
    BEFORE running it: one hot bucket = a quadratic pair blowup this
    histogram exposes as a single row.  Two bounded aggregations over
    the one-pass bucket assignment."""
    from multisql_spark.operators import similarity as sim
    from multisql_spark.queries.similarity_q import _PLANES

    t = load_tables(spark, sf_dir, ["embeddings"])
    base = t["embeddings"].select(
        F.col("vec_id").cast("long").alias("vec_id"),
        sim.as_double("embedding").alias("v"),
    )
    b = base.select(
        sim.lsh_bucket_col(F.col("v"), _PLANES).alias("bucket")
    ).groupBy("bucket").agg(F.count(F.lit(1)).alias("sz"))
    return b.groupBy(F.col("sz").alias("bucket_size")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            F.col("sz").cast("decimal(38,0)") * (F.col("sz") - 1) / 2
        )
        .cast("long")
        .alias("candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# Peak concurrency: sweep-line over sessions, two-phase exact cumsum
# ---------------------------------------------------------------------------


@register(
    "events_peak_concurrency",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, {_EPOCH} AS ts_sec,
        CASE WHEN {_EPOCH} - lag({_EPOCH}) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) > 1800
          OR lag({_EPOCH}) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id,
        sum(is_new) OVER (
          PARTITION BY user_id ORDER BY ts_sec, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx,
        ts_sec
      FROM seq
    ),
    spans AS (
      SELECT min(ts_sec) AS s, max(ts_sec) + 1 AS e
      FROM sess GROUP BY user_id, sidx
    ),
    deltas AS (
      SELECT s AS t, 1 AS d FROM spans
      UNION ALL
      SELECT e AS t, -1 AS d FROM spans
    ),
    walk AS (
      SELECT t, sum(d) AS dd FROM deltas GROUP BY t
    ),
    conc AS (
      SELECT t, sum(dd) OVER (
        ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS c
      FROM walk
    )
    SELECT CAST(max(c) AS BIGINT) AS peak_concurrency,
           CAST(min(CASE WHEN c = (SELECT max(c) FROM conc)
                    THEN t END) AS BIGINT) AS peak_at_sec
    FROM conc
    """,
    tags=("temporal", "concurrency", "sweep-line"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions and when it happened — the sweep-line
    (+1 at session start, −1 after end) maximum.

    Scale shape: deltas first collapse per timestamp (one bounded
    groupBy), then the running count uses the two-phase exact-cumsum
    pattern: hour-bucketed partial sums give prefix offsets, the only
    ordered windows run per bucket and over the tiny bucket table —
    identical to the oracle's naive global cumulative, with no
    data-scale global sort."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    seq = W.partitionBy("user_id").orderBy("ts_sec", "event_id")
    e = t["events"].select(
        "user_id", "event_id", ts.alias("ts_sec")
    )
    gap = F.col("ts_sec") - F.lag("ts_sec").over(seq)
    sess = (
        e.withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        .withColumn(
            "sidx",
            F.sum("is_new").over(seq.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sidx")
        .agg(
            F.min("ts_sec").alias("s"),
            (F.max("ts_sec") + 1).alias("e"),
        )
    )
    # r11 (guide §1.2/§2.4): the former union-of-two-projections
    # instantiated the whole sessionize lineage (events scan + two
    # window passes) once per delta sign; one inline() unpivot emits
    # both sweep-line deltas from a single pass.
    deltas = sess.select(
        F.inline(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("e").alias("t"), F.lit(-1).alias("d")),
            )
        )
    )
    walk = deltas.groupBy("t").agg(F.sum("d").alias("dd"))
    # two-phase exact cumsum: hour buckets → offsets → local windows
    walk = walk.withColumn("bkt", (F.col("t") / 3600).cast("long"))
    per_bkt = walk.groupBy("bkt").agg(F.sum("dd").alias("bsum"))
    off_w = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    offsets = per_bkt.withColumn(
        "off", F.coalesce(F.sum("bsum").over(off_w), F.lit(0))
    ).select("bkt", "off")
    loc_w = (
        W.partitionBy("bkt")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    conc = (
        walk.withColumn("lc", F.sum("dd").over(loc_w))
        .join(F.broadcast(offsets), "bkt")
        .select("t", (F.col("off") + F.col("lc")).alias("c"))
    )
    # r11 (guide §1.2): argmax in ONE aggregate — max over the
    # lexicographic (c, -t) struct IS (max c, min t among rows at that
    # max), replacing the crossJoin of conc with its own max (which
    # instantiated the whole sweep-line lineage a second time).
    best = F.max(F.struct(F.col("c"), (-F.col("t")).alias("nt")))
    return conc.agg(best.alias("b")).select(
        F.col("b.c").cast("long").alias("peak_concurrency"),
        (-F.col("b.nt")).cast("long").alias("peak_at_sec"),
    )


# ---------------------------------------------------------------------------
# Audit screen: suspected duplicate orders (same customer+amount, close dates)
# ---------------------------------------------------------------------------


@register(
    "orders_duplicate_screen",
    oracle="""
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.o_custkey AS custkey,
           round(a.o_totalprice, 2) AS amount,
           CAST(abs(CAST(floor(date_part('epoch', a.o_orderdate))
                    AS BIGINT)
                    - CAST(floor(date_part('epoch', b.o_orderdate))
                      AS BIGINT)) // 86400 AS BIGINT) AS days_apart
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_totalprice = b.o_totalprice
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(CAST(floor(date_part('epoch', a.o_orderdate)) AS BIGINT)
              - CAST(floor(date_part('epoch', b.o_orderdate))
                AS BIGINT)) <= 172800
    """,
    tags=("audit", "duplicates"),
)
def orders_duplicate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial-audit duplicate screen: order pairs from the same
    customer with the identical amount within 2 days — the
    double-charge / double-entry detector.

    The self-join keys on (custkey, exact amount) — a genuine blocking
    key, so pair work is bounded by amount collisions per customer,
    never orders²; the date proximity is a residual filter on the
    already-tiny blocks."""
    t = load_tables(spark, sf_dir, ["orders"])
    o = t["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.unix_timestamp("o_orderdate").cast("long").alias("od"),
    )
    a = o.select(
        F.col("o_orderkey").alias("key_a"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("amount"),
        F.col("od").alias("od_a"),
    )
    b = o.select(
        F.col("o_orderkey").alias("key_b"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("amount"),
        F.col("od").alias("od_b"),
    )
    j = a.join(b, ["custkey", "amount"]).filter(
        (F.col("key_a") < F.col("key_b"))
        & (F.abs(F.col("od_a") - F.col("od_b")) <= 172800)
    )
    return j.select(
        "key_a",
        "key_b",
        "custkey",
        F.round("amount", 2).alias("amount"),
        (F.abs(F.col("od_a") - F.col("od_b")) / F.lit(86400))
        .cast("long")
        .alias("days_apart"),
    )


# ---------------------------------------------------------------------------
# Class-balanced downsampling (minority-class parity)
# ---------------------------------------------------------------------------


@register(
    "sample_class_balance",
    oracle="""
    WITH m AS (
      SELECT min(c) AS mc FROM (
        SELECT label, COUNT(*) AS c FROM embeddings GROUP BY label
      )
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(label AS BIGINT) AS label
    FROM (
      SELECT vec_id, label,
             row_number() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM embeddings
    ), m WHERE rk <= mc
    """,
    tags=("sampling", "class-balance"),
)
def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: every label keeps exactly
    min-class-size rows, chosen by md5 order — the classifier-training
    prep that removes label imbalance without any RNG state.

    The minority size is one bounded aggregation broadcast into the
    per-label WindowGroupLimit cap; deterministic and
    repartition-stable like every sampler here."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    e = t["embeddings"].select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
    )
    mc = e.groupBy("label").agg(F.count(F.lit(1)).alias("c")).agg(
        F.min("c").alias("mc")
    )
    rk = F.row_number().over(
        W.partitionBy("label").orderBy(
            F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
        )
    )
    return (
        e.withColumn("rk", rk)
        .crossJoin(F.broadcast(mc))
        .filter(F.col("rk") <= F.col("mc"))
        .select("vec_id", "label")
    )


# ---------------------------------------------------------------------------
# Holdout LM evaluation: fit on the train split, score the held-out split
# ---------------------------------------------------------------------------


@register(
    "text_lm_holdout_eval",
    oracle="""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                  1, 8)) AS BIGINT) % 10 < 8
             THEN 'train' ELSE 'eval' END AS part
      FROM documents
    ),
    train_tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok
      FROM split WHERE part = 'train'
    ),
    lm AS (SELECT tok, COUNT(*) AS c FROM train_tok GROUP BY tok),
    vtot AS (SELECT sum(c) AS t, COUNT(*) AS v FROM lm),
    eval_tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM split WHERE part = 'eval'
    ),
    scored AS (
      SELECT e.doc_id,
        CAST(floor(ln((coalesce(lm.c, 0) + 1.0) / (t + v))
             * 1000000 + 0.5) AS BIGINT) AS lpq
      FROM eval_tok e LEFT JOIN lm ON lm.tok = e.tok, vtot
    )
    SELECT COUNT(DISTINCT doc_id) AS n_eval_docs,
           COUNT(*) AS n_eval_tokens,
           round(sum(lpq) / COUNT(*) / 1000000.0, 6)
             AS mean_token_logprob
    FROM scored
    """,
    tags=("text", "lm", "holdout"),
)
def text_lm_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe LM evaluation protocol: a unigram model with add-one
    smoothing is FIT on the 80% md5-hash train split and scored on the
    held-out 20% — the fit-on-train / eval-on-holdout shape every
    learned filter in the pipeline should follow.

    The vocabulary table is one train-split aggregation broadcast onto
    the eval token stream (unseen tokens take the smoothed floor);
    per-token log-probs quantize to 1e-6 integers before summing.  The
    split is the same md5 hash used by `sample_hash_split`, so
    train/eval membership is stable across engines and reruns."""
    t = load_tables(spark, sf_dir, ["documents"])
    part = F.when(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
        < 8,
        "train",
    ).otherwise("eval")
    d = t["documents"].select("doc_id", "text", part.alias("part"))
    train_tok = d.filter(F.col("part") == "train").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    lm = train_tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vtot = lm.agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")
    )
    eval_tok = d.filter(F.col("part") == "eval").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    scored = (
        eval_tok.join(F.broadcast(lm), "tok", "left")
        .crossJoin(F.broadcast(vtot))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("t") + F.col("v"))
                )
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("lpq"),
        )
    )
    return scored.agg(
        F.count_distinct("doc_id").alias("n_eval_docs"),
        F.count(F.lit(1)).alias("n_eval_tokens"),
        F.round(
            F.sum("lpq") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("mean_token_logprob"),
    )


# ---------------------------------------------------------------------------
# Embedding QA: norm-degeneracy screen
# ---------------------------------------------------------------------------


@register(
    "sim_norm_outliers",
    oracle="""
    WITH n AS (
      SELECT vec_id, label,
             CAST(floor(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * x))) * 1000000 + 0.5) AS BIGINT)
               AS norm_q
      FROM embeddings
    ),
    s AS (
      SELECT COUNT(*) AS cnt, sum(CAST(norm_q AS HUGEINT)) AS sn,
             sum(CAST(norm_q AS HUGEINT) * norm_q) AS snn
      FROM n
    )
    SELECT CAST(label AS BIGINT) AS label,
           COUNT(*) AS n_vecs,
           CAST(sum(CASE WHEN norm_q < 100000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_zero,
           CAST(sum(CASE WHEN abs(norm_q - sn * 1.0 / cnt)
                    > 3 * sqrt((CAST(snn AS DOUBLE)
                      - CAST(sn AS DOUBLE) * sn / cnt) / (cnt - 1))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_norm_outliers,
           round(sum(norm_q) * 1.0 / COUNT(*) / 1000000.0, 6)
             AS mean_norm
    FROM n, s GROUP BY label
    """,
    tags=("similarity", "qa", "norms"),
)
def sim_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA screen: per label, vectors with near-zero L2 norm
    (degenerate encodings poison cosine similarity) and norm outliers
    beyond 3σ of the corpus norm distribution.

    Norms quantize to 1e-6 integers (one narrow pass over the vectors);
    corpus moments are exact HUGEINT sums broadcast back — the vectors
    themselves are read once and never shuffled."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    norm_q = F.floor(
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col("embedding"),
                    lambda x: x.cast("double") * x,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        * 1000000
        + 0.5
    ).cast("long")
    n = t["embeddings"].select(
        F.col("vec_id"),
        F.col("label").cast("long").alias("label"),
        norm_q.alias("norm_q"),
    )
    dec = "decimal(38,0)"
    s = n.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("norm_q").cast(dec)).alias("sn"),
        F.sum(F.col("norm_q").cast(dec) * F.col("norm_q")).alias("snn"),
    )
    j = n.crossJoin(F.broadcast(s))
    mean = F.col("sn").cast("double") / F.col("cnt")
    sd = F.sqrt(
        # try_divide: a single-vector label has no sample variance ->
        # NULL sd (the outlier test then never fires), like the oracle
        F.try_divide(
            F.col("snn").cast("double")
            - F.col("sn").cast("double")
            * F.col("sn").cast("double")
            / F.col("cnt"),
            F.col("cnt") - 1,
        )
    )
    return j.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("norm_q") < 100000, 1).otherwise(0))
        .cast("long")
        .alias("n_near_zero"),
        F.sum(
            F.when(F.abs(F.col("norm_q") - mean) > 3 * sd, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_norm_outliers"),
        F.round(
            F.sum("norm_q") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("mean_norm"),
    )


# ---------------------------------------------------------------------------
# Temporal train/test split with embargo gap (time-series CV)
# ---------------------------------------------------------------------------


@register(
    "sample_time_split",
    oracle=f"""
    WITH b AS (
      SELECT min({_EPOCH}) AS lo, max({_EPOCH}) AS hi FROM events
    ),
    tagged AS (
      SELECT event_id, user_id, {_EPOCH} AS ts_sec,
        CASE
          WHEN {_EPOCH} < lo + CAST((hi - lo) * 0.7 AS BIGINT)
            THEN 'train'
          WHEN {_EPOCH} >= lo + CAST((hi - lo) * 0.7 AS BIGINT) + 86400
            THEN 'test'
          ELSE 'embargo'
        END AS part
      FROM events, b
    )
    SELECT part,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(min(ts_sec) AS BIGINT) AS first_sec,
           CAST(max(ts_sec) AS BIGINT) AS last_sec
    FROM tagged GROUP BY part
    """,
    tags=("sampling", "time-split", "embargo"),
)
def sample_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with a 1-day embargo gap: train on the
    first 70% of the time span, discard the embargo day, test on the
    rest — the time-series cross-validation protocol (hash splits leak
    temporally-correlated rows; the embargo kills boundary leakage from
    lagged features).

    The span bounds are one bounded aggregation broadcast back; the
    per-split audit (counts, user coverage, actual boundaries) verifies
    the gap in the same pass."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    e = t["events"].select("event_id", "user_id", ts.alias("ts_sec"))
    b = e.agg(F.min("ts_sec").alias("lo"), F.max("ts_sec").alias("hi"))
    j = e.crossJoin(F.broadcast(b))
    cut = F.col("lo") + (
        (F.col("hi") - F.col("lo")) * 0.7
    ).cast("long")
    part = (
        F.when(F.col("ts_sec") < cut, "train")
        .when(F.col("ts_sec") >= cut + 86400, "test")
        .otherwise("embargo")
    )
    return j.select(part.alias("part"), "event_id", "user_id", "ts_sec").groupBy(
        "part"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("ts_sec").cast("long").alias("first_sec"),
        F.max("ts_sec").cast("long").alias("last_sec"),
    )


# ---------------------------------------------------------------------------
# Pareto front (skyline): cheapest part per strictly-larger size class
# ---------------------------------------------------------------------------


@register(
    "part_skyline_pareto",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_size,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    ),
    per_size AS (
      SELECT p_size, min(cents) AS mn FROM p GROUP BY p_size
    ),
    pref AS (
      SELECT p_size,
             min(mn) OVER (
               ORDER BY p_size DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_larger
      FROM per_size
    )
    SELECT p.p_partkey, p.p_size,
           round(p.cents / 100.0, 2) AS price
    FROM p JOIN pref ON p.p_size = pref.p_size
    WHERE pref.best_larger IS NULL OR p.cents <= pref.best_larger
    """,
    tags=("skyline", "pareto"),
)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto front (skyline): parts not strictly dominated on
    (bigger size, lower price) — the multi-objective shortlist
    operator (supplier selection, config search).

    2-D skyline reduces to a prefix-min: per-size minimum prices (one
    bounded aggregation) take a running min over strictly larger sizes —
    a window over the DISTINCT size values only, never the part table —
    then dominance is a broadcast join + one comparison per part."""
    t = load_tables(spark, sf_dir, ["part"])
    p = t["part"].select(
        "p_partkey",
        "p_size",
        F.floor(F.col("p_retailprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    per_size = p.groupBy("p_size").agg(F.min("cents").alias("mn"))
    wl = W.orderBy(F.desc("p_size")).rowsBetween(
        W.unboundedPreceding, -1
    )  # distinct sizes: tiny table
    pref = per_size.withColumn("best_larger", F.min("mn").over(wl)).select(
        "p_size", "best_larger"
    )
    return (
        p.join(F.broadcast(pref), "p_size")
        .filter(
            F.col("best_larger").isNull()
            | (F.col("cents") <= F.col("best_larger"))
        )
        .select(
            "p_partkey",
            "p_size",
            F.round(F.col("cents") / 100.0, 2).alias("price"),
        )
    )


# ---------------------------------------------------------------------------
# Token burstiness: collection frequency vs document frequency
# ---------------------------------------------------------------------------


@register(
    "text_token_burstiness",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      FROM documents
    ),
    stats AS (
      SELECT tk, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df
      FROM tok GROUP BY tk
    )
    SELECT tk AS token, cf, df,
           round(cf * 1.0 / df, 6) AS burstiness
    FROM stats
    WHERE cf >= 50
    ORDER BY burstiness DESC, tk
    LIMIT 20
    """,
    tags=("text", "burstiness", "corpus-stats"),
)
def text_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness: collection frequency ÷ document frequency —
    words that pile up inside few documents (templates, boilerplate,
    spam markers) score high; evenly-spread function words sit near 1.

    One explode + one groupBy computes both frequencies (count +
    count-distinct in the same aggregation buffer); the top-20 is a
    TakeOrderedAndProject heap with a token tie-break.  The burstiness
    ratio is exact integers divided once at the end."""
    t = load_tables(spark, sf_dir, ["documents"])
    tok = t["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("tk")
    )
    stats = tok.groupBy("tk").agg(
        F.count(F.lit(1)).alias("cf"),
        F.count_distinct("doc_id").alias("df"),
    )
    return (
        stats.filter(F.col("cf") >= 50)
        .select(
            F.col("tk").alias("token"),
            "cf",
            "df",
            F.round(F.col("cf") / F.col("df"), 6).alias("burstiness"),
        )
        .orderBy(F.desc("burstiness"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Mode aggregate: most frequent value per group (deterministic tie-break)
# ---------------------------------------------------------------------------


@register(
    "part_brand_mode",
    oracle="""
    WITH c AS (
      SELECT p_type, p_brand, COUNT(*) AS n
      FROM part GROUP BY p_type, p_brand
    ),
    t AS (SELECT p_type, sum(n) AS tot FROM c GROUP BY p_type)
    SELECT c.p_type, p_brand AS modal_brand, n AS n_modal,
           round(n * 1.0 / tot, 6) AS modal_share
    FROM (
      SELECT p_type, p_brand, n,
             row_number() OVER (
               PARTITION BY p_type ORDER BY n DESC, p_brand) AS rk
      FROM c
    ) c JOIN t ON c.p_type = t.p_type
    WHERE rk = 1
    """,
    tags=("aggregate", "mode"),
)
def part_brand_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group: each part type's most common brand and its
    share — the MODE aggregate (absent from both engines' exact
    aggregate sets) built deterministically.

    Counts are one aggregation; the modal pick is a WindowGroupLimit
    head over the bounded (type, brand) table with a lexicographic
    tie-break, so ties resolve identically everywhere."""
    t = load_tables(spark, sf_dir, ["part"])
    c = t["part"].groupBy("p_type", "p_brand").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.groupBy("p_type").agg(F.sum("n").alias("tot"))
    rk = F.row_number().over(
        W.partitionBy("p_type").orderBy(F.desc("n"), F.asc("p_brand"))
    )
    return (
        c.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .join(F.broadcast(tot), "p_type")
        .select(
            "p_type",
            F.col("p_brand").alias("modal_brand"),
            F.col("n").alias("n_modal"),
            F.round(F.col("n") / F.col("tot"), 6).alias("modal_share"),
        )
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution (integer power iteration)
# ---------------------------------------------------------------------------

_MK_SCALE = 1000000000  # 1e-9 probability units (exact integer algebra)


def _markov_step_sql(n: int) -> str:
    """One integer power-iteration step as SQL: p'_j = Σ_i p_i·T_ij/S."""
    return f"""
      SELECT t.to_type AS state,
             CAST(sum(p.mass * t.tq / {_MK_SCALE}) AS BIGINT) AS mass
      FROM p{n} p JOIN tmat t ON t.from_type = p.state
      GROUP BY t.to_type
    """


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(date_part('epoch', ts)) AS BIGINT),
                        event_id) AS next_type
      FROM events
    ),
    cnt AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    rowtot AS (SELECT from_type, sum(n) AS rt FROM cnt GROUP BY 1),
    tmat AS (
      SELECT c.from_type, c.to_type,
             CAST(floor(c.n * {_MK_SCALE}.0 / r.rt + 0.5) AS BIGINT)
               AS tq
      FROM cnt c JOIN rowtot r ON c.from_type = r.from_type
    ),
    states AS (SELECT DISTINCT from_type AS state FROM cnt),
    nstates AS (SELECT COUNT(*) AS ns FROM states),
    p0 AS (
      SELECT state, CAST({_MK_SCALE} // ns AS BIGINT) AS mass
      FROM states, nstates
    ),
    p1 AS ({_markov_step_sql(0)}),
    p2 AS ({_markov_step_sql(1)}),
    p3 AS ({_markov_step_sql(2)}),
    p4 AS ({_markov_step_sql(3)})
    SELECT state, round(mass / {_MK_SCALE}.0, 6) AS stationary_prob
    FROM p4
    """,
    tags=("temporal", "markov", "stationary"),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov stationary estimate: the event-type transition matrix
    power-iterated 4 steps from uniform — where user journeys spend
    their time in the long run.

    The whole computation after the one windowed transition count runs
    on the |types|² matrix in 1e-9 integer probability units with
    floor division — every iteration is exact integer algebra, so the
    fixed-point replay is bit-identical to the chained-CTE oracle (the
    same scheme as `dedup_graph_pagerank`)."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    w = W.partitionBy("user_id").orderBy("ts_sec", "event_id")
    seq = t["events"].select(
        "user_id", "event_id", "event_type", ts.alias("ts_sec")
    ).withColumn("next_type", F.lead("event_type").over(w))
    cnt = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rowtot = cnt.groupBy("from_type").agg(F.sum("n").alias("rt"))
    tmat = cnt.join(rowtot, "from_type").select(
        "from_type",
        "to_type",
        F.floor(F.col("n") * float(_MK_SCALE) / F.col("rt") + 0.5)
        .cast("long")
        .alias("tq"),
    ).localCheckpoint(eager=True)
    states = cnt.select(F.col("from_type").alias("state")).distinct()
    # max(·,1): zero states (empty input) degrades to an empty result
    # instead of a driver-side division by zero
    ns = states.count() or 1
    p = states.select(
        "state", F.lit(_MK_SCALE // ns).cast("long").alias("mass")
    )
    for _ in range(4):
        p = (
            p.join(tmat, p.state == tmat.from_type)
            .groupBy(F.col("to_type").alias("state"))
            .agg(
                F.sum(
                    (F.col("mass") * F.col("tq") / F.lit(_MK_SCALE))
                    .cast("long")
                )
                .cast("long")
                .alias("mass")
            )
        )
    return p.select(
        "state",
        F.round(F.col("mass") / float(_MK_SCALE), 6).alias(
            "stationary_prob"
        ),
    )


# ---------------------------------------------------------------------------
# Survival analysis: Kaplan-Meier time-to-conversion curve
# ---------------------------------------------------------------------------


@register(
    "events_survival_km",
    oracle=f"""
    WITH su AS (
      SELECT CAST(user_id AS BIGINT) AS u, min({_EPOCH}) AS t0
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT su.u, su.t0, min({_EPOCH}) AS tc
      FROM su JOIN events e ON CAST(e.user_id AS BIGINT) = su.u
       AND e.event_type = 'purchase' AND {_EPOCH} >= su.t0
      GROUP BY su.u, su.t0
    ),
    horizon AS (SELECT max({_EPOCH}) AS hz FROM events),
    obs AS (
      SELECT su.u,
             CASE WHEN conv.tc IS NULL THEN hz - su.t0
                  ELSE conv.tc - su.t0 END AS dur,
             CASE WHEN conv.tc IS NULL THEN 0 ELSE 1 END AS died
      FROM su LEFT JOIN conv ON su.u = conv.u, horizon
    ),
    times AS (
      SELECT dur AS t, sum(died) AS d, COUNT(*) AS leaving
      FROM obs GROUP BY dur
    ),
    risk AS (
      SELECT t, d,
        (SELECT COUNT(*) FROM obs) - coalesce(sum(leaving) OVER (
          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS n_at_risk
      FROM times
    ),
    lg AS (
      SELECT t, d, n_at_risk,
        CASE WHEN n_at_risk > d THEN
          CAST(floor(ln((n_at_risk - d) * 1.0 / n_at_risk)
               * 1000000000 + 0.5) AS BIGINT)
        END AS lq
      FROM risk WHERE d > 0
    )
    SELECT CAST(t AS BIGINT) AS dur_sec,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           CASE WHEN n_at_risk = d THEN 0.0 ELSE
             round(exp(sum(lq) OVER (
               ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) / 1000000000.0), 6)
           END AS survival
    FROM lg
    """,
    tags=("survival", "kaplan-meier"),
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time from signup to first
    purchase, right-censored at the observation horizon — the
    time-to-event estimator behind conversion-lag and churn analyses.

    Per-user durations are two keyed aggregations; the KM product
    ∏(1−dᵗ/nᵗ) is computed as a running SUM of 1e-9-quantized log
    factors (exact integers — order-safe, unlike a float product
    chain), so the curve hash-matches the oracle.  The ordered pass
    runs over DISTINCT event times (bounded by conversions); at extreme
    scale it takes the same bucket-offset treatment as the ABC
    cumulative."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    e = t["events"].select(
        F.col("user_id").cast("long").alias("u"),
        "event_type",
        ts.alias("ts_sec"),
    )
    su = e.filter(F.col("event_type") == "signup").groupBy("u").agg(
        F.min("ts_sec").alias("t0")
    )
    conv = (
        su.join(
            e.filter(F.col("event_type") == "purchase").select(
                "u", F.col("ts_sec").alias("tp")
            ),
            "u",
        )
        .filter(F.col("tp") >= F.col("t0"))
        .groupBy("u", "t0")
        .agg(F.min("tp").alias("tc"))
    )
    hz = e.agg(F.max("ts_sec").alias("hz"))
    obs = (
        su.join(conv.select("u", "tc"), "u", "left")
        .crossJoin(F.broadcast(hz))
        .select(
            "u",
            F.when(
                F.col("tc").isNull(), F.col("hz") - F.col("t0")
            )
            .otherwise(F.col("tc") - F.col("t0"))
            .alias("dur"),
            F.when(F.col("tc").isNull(), 0).otherwise(1).alias("died"),
        )
    )
    n_total = obs.count()
    times = obs.groupBy(F.col("dur").alias("t")).agg(
        F.sum("died").alias("d"), F.count(F.lit(1)).alias("leaving")
    )
    before = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    risk = times.withColumn(
        "n_at_risk",
        F.lit(n_total)
        - F.coalesce(F.sum("leaving").over(before), F.lit(0)),
    ).filter(F.col("d") > 0)
    lq = F.when(
        F.col("n_at_risk") > F.col("d"),
        F.floor(
            F.log(
                (F.col("n_at_risk") - F.col("d")) / F.col("n_at_risk")
            )
            * 1000000000
            + 0.5
        ).cast("long"),
    )
    run = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    return (
        risk.withColumn("lq", lq)
        .withColumn(
            "survival",
            F.when(F.col("n_at_risk") == F.col("d"), F.lit(0.0)).otherwise(
                F.round(F.exp(F.sum("lq").over(run) / 1000000000.0), 6)
            ),
        )
        .select(
            F.col("t").cast("long").alias("dur_sec"),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            F.col("d").cast("long").alias("n_events"),
            "survival",
        )
    )


# ---------------------------------------------------------------------------
# Price/volume/mix decomposition of revenue change between two periods
# ---------------------------------------------------------------------------


@register(
    "orders_mix_decomposition",
    oracle="""
    WITH half AS (
      SELECT o_orderpriority AS seg,
             CASE WHEN o_orderdate < TIMESTAMP '2024-07-01'
               THEN 1 ELSE 2 END AS period,
             COUNT(*) AS q,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    wide AS (
      SELECT a.seg,
             a.q AS q1, b.q AS q2,
             a.cents AS c1, b.cents AS c2,
             CAST(floor(a.cents * 1000000.0 / a.q + 0.5) AS BIGINT)
               AS p1q,
             CAST(floor(b.cents * 1000000.0 / b.q + 0.5) AS BIGINT)
               AS p2q
      FROM half a JOIN half b
        ON a.seg = b.seg AND a.period = 1 AND b.period = 2
    )
    SELECT seg,
      round((c2 - c1) / 100.0, 2) AS revenue_delta,
      round((q2 - q1) * CAST(p1q AS HUGEINT) / 100000000.0, 2)
        AS volume_effect,
      round(q1 * CAST(p2q - p1q AS HUGEINT) / 100000000.0, 2)
        AS price_effect,
      round((q2 - q1) * CAST(p2q - p1q AS HUGEINT) / 100000000.0, 2)
        AS joint_effect
    FROM wide
    """,
    tags=("finance", "decomposition", "mix"),
)
def orders_mix_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix decomposition: each segment's half-over-half
    revenue change split into volume effect (ΔQ·P̄₁), price effect
    (Q₁·ΔP̄), and the joint term — the FP&A variance-bridge shape.

    One conditional aggregation to (segment, period) cells; average
    prices quantize to 1e-6 cents before the effect products
    (DECIMAL/HUGEINT), so the bridge reconciles identically on both
    engines."""
    t = load_tables(spark, sf_dir, ["orders"])
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    period = F.when(
        F.col("o_orderdate") < "2024-07-01", 1
    ).otherwise(2)
    half = t["orders"].select(
        F.col("o_orderpriority").alias("seg"),
        period.alias("period"),
        cents.alias("cents"),
    ).groupBy("seg", "period").agg(
        F.count(F.lit(1)).alias("q"), F.sum("cents").alias("cents")
    )
    pq = F.floor(
        F.col("cents") * 1000000.0 / F.col("q") + 0.5
    ).cast("long")
    a = half.filter(F.col("period") == 1).select(
        "seg",
        F.col("q").alias("q1"),
        F.col("cents").alias("c1"),
        pq.alias("p1q"),
    )
    b = half.filter(F.col("period") == 2).select(
        "seg",
        F.col("q").alias("q2"),
        F.col("cents").alias("c2"),
        pq.alias("p2q"),
    )
    dec = "decimal(38,0)"
    w = a.join(b, "seg")
    return w.select(
        "seg",
        F.round((F.col("c2") - F.col("c1")) / 100.0, 2).alias(
            "revenue_delta"
        ),
        F.round(
            ((F.col("q2") - F.col("q1")).cast(dec) * F.col("p1q"))
            .cast("double")
            / 100000000.0,
            2,
        ).alias("volume_effect"),
        F.round(
            (F.col("q1").cast(dec) * (F.col("p2q") - F.col("p1q")))
            .cast("double")
            / 100000000.0,
            2,
        ).alias("price_effect"),
        F.round(
            (
                (F.col("q2") - F.col("q1")).cast(dec)
                * (F.col("p2q") - F.col("p1q"))
            ).cast("double")
            / 100000000.0,
            2,
        ).alias("joint_effect"),
    )


# ---------------------------------------------------------------------------
# Daily-lag autocorrelation of hourly rates (periodicity strength)
# ---------------------------------------------------------------------------


@register(
    "events_autocorr_daily",
    oracle=f"""
    WITH hourly AS (
      SELECT ({_EPOCH} // 3600) * 3600 AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, COUNT(*) AS cnt, sum(n) AS sn
      FROM hourly GROUP BY event_type
    ),
    paired AS (
      SELECT cur.event_type,
             CAST(cur.n AS HUGEINT) * m.cnt - m.sn AS xa,
             CAST(nxt.n AS HUGEINT) * m.cnt - m.sn AS xb
      FROM hourly cur
      JOIN hourly nxt ON nxt.event_type = cur.event_type
       AND nxt.h = cur.h + 86400
      JOIN m ON m.event_type = cur.event_type
    )
    SELECT event_type,
           COUNT(*) AS n_pairs,
           round(CAST(sum(xa * xb) AS DOUBLE)
                 / sqrt(CAST(sum(xa * xa) AS DOUBLE))
                 / sqrt(CAST(sum(xb * xb) AS DOUBLE)), 6)
             AS daily_autocorr
    FROM paired GROUP BY event_type
    """,
    tags=("temporal", "autocorrelation", "periodicity"),
)
def events_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily periodicity strength: Pearson correlation between each
    hour's rate and the same hour one day later, per stream — near 1
    means strong daily seasonality (validating the seasonal-naive
    forecast), near 0 means the profile is noise.

    Deviations are n-scaled exact integers (x·cnt − Σx — no float
    mean), so the correlation's numerator and squared sums are exact
    HUGEINT/DECIMAL algebra; one bounded rollup, one self-join on
    (type, h+24h)."""
    t = load_tables(spark, sf_dir, ["events"])
    hour = (
        (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long")
        * 3600
    ).alias("h")
    hourly = t["events"].groupBy(hour, F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("n").alias("sn")
    )
    dec = "decimal(38,0)"
    nxt = hourly.select(
        "event_type",
        (F.col("h") - 86400).alias("h"),
        F.col("n").alias("n_next"),
    )
    paired = (
        hourly.join(nxt, ["event_type", "h"])
        .join(F.broadcast(m), "event_type")
        .select(
            "event_type",
            (F.col("n").cast(dec) * F.col("cnt") - F.col("sn")).alias(
                "xa"
            ),
            (
                F.col("n_next").cast(dec) * F.col("cnt") - F.col("sn")
            ).alias("xb"),
        )
    )
    return paired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("xa") * F.col("xb")).cast("double")
            / F.sqrt(F.sum(F.col("xa") * F.col("xa")).cast("double"))
            / F.sqrt(F.sum(F.col("xb") * F.col("xb")).cast("double")),
            6,
        ).alias("daily_autocorr"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit screen (forensic accounting)
# ---------------------------------------------------------------------------


@register(
    "orders_benford_screen",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
               AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
      WHERE o_totalprice > 0
    ),
    obs AS (SELECT digit, COUNT(*) AS o FROM d GROUP BY digit),
    tot AS (SELECT sum(o) AS n FROM obs)
    SELECT digit, o AS observed,
           round(ln(1.0 + 1.0 / digit) / ln(10.0), 6)
             AS benford_expected,
           round(o * 1.0 / n, 6) AS observed_share,
           CAST(floor(
             (o - n * ln(1.0 + 1.0 / digit) / ln(10.0))
             * (o - n * ln(1.0 + 1.0 / digit) / ln(10.0))
             / (n * ln(1.0 + 1.0 / digit) / ln(10.0))
             * 1000000 + 0.5) AS BIGINT) AS chisq_term_q
    FROM obs, tot
    """,
    tags=("audit", "benford", "fraud"),
)
def orders_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order amounts — the
    forensic-accounting test: fabricated figures drift from the
    log-uniform leading-digit distribution.

    The first digit comes from the integer-cents DECIMAL string (both
    engines print integers identically — no float formatting in the
    key), digit counts are one aggregation, and each digit's chi-square
    term is quantized for an order-free total."""
    t = load_tables(spark, sf_dir, ["orders"])
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = (
        t["orders"]
        .filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    tot = obs.agg(F.sum("o").alias("n"))
    exp_p = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    e = F.col("n") * exp_p
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("o").alias("observed"),
        F.round(exp_p, 6).alias("benford_expected"),
        F.round(F.col("o") / F.col("n"), 6).alias("observed_share"),
        F.floor(
            (F.col("o") - e) * (F.col("o") - e) / e * 1000000 + 0.5
        )
        .cast("long")
        .alias("chisq_term_q"),
    )


# ---------------------------------------------------------------------------
# Pairwise KL divergence between source token distributions
# ---------------------------------------------------------------------------


@register(
    "monitor_source_kl_matrix",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tk
      FROM documents
    ),
    cnt AS (SELECT source, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    tot AS (SELECT source, sum(c) AS t FROM cnt GROUP BY 1),
    vocab AS (SELECT COUNT(DISTINCT tk) AS v FROM cnt),
    grid AS (
      SELECT a.source AS src_a, b.source AS src_b, k.tk,
             coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb,
             ta.t AS tta, tb.t AS ttb, vocab.v
      FROM tot a
      JOIN tot b ON a.source < b.source
      CROSS JOIN (SELECT DISTINCT tk FROM cnt) k
      LEFT JOIN cnt ca ON ca.source = a.source AND ca.tk = k.tk
      LEFT JOIN cnt cb ON cb.source = b.source AND cb.tk = k.tk
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
      CROSS JOIN vocab
    ),
    terms AS (
      SELECT src_a, src_b,
        CAST(floor(((ca + 1.0) / (tta + v))
             * ln(((ca + 1.0) / (tta + v)) / ((cb + 1.0) / (ttb + v)))
             * 1000000000 + 0.5) AS BIGINT) AS klq
      FROM grid
    )
    SELECT src_a, src_b,
           round(sum(klq) / 1000000000.0, 6) AS kl_ab
    FROM terms GROUP BY src_a, src_b
    """,
    tags=("monitor", "kl", "distribution"),
)
def monitor_source_kl_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise KL divergence KL(a‖b) between every source pair's
    add-one-smoothed token distribution — the distribution-distance
    matrix behind source clustering and mixture design (which corpora
    are near-duplicates of each other, which are genuinely novel).

    The (source, token) count table is one aggregation; the pair grid
    joins it twice on the token key over the |sources|²/2 pairs — work
    is |pairs|×|vocab|, all keyed joins.  Smoothing puts every pair on
    the full shared vocabulary; per-term contributions quantize to
    1e-9 integers so the matrix is exact at any parallelism."""
    t = load_tables(spark, sf_dir, ["documents"])
    tok = t["documents"].select(
        "source", F.explode(F.split("text", " ")).alias("tk")
    )
    cnt = tok.groupBy("source", "tk").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    v = cnt.select("tk").distinct().count()
    vocab = cnt.select("tk").distinct()
    pairs = (
        tot.select(F.col("source").alias("src_a"), F.col("t").alias("tta"))
        .crossJoin(
            tot.select(
                F.col("source").alias("src_b"), F.col("t").alias("ttb")
            )
        )
        .filter(F.col("src_a") < F.col("src_b"))
    )
    grid = (
        pairs.crossJoin(vocab)
        .join(
            cnt.select(
                F.col("source").alias("src_a"),
                "tk",
                F.col("c").alias("ca"),
            ),
            ["src_a", "tk"],
            "left",
        )
        .join(
            cnt.select(
                F.col("source").alias("src_b"),
                "tk",
                F.col("c").alias("cb"),
            ),
            ["src_b", "tk"],
            "left",
        )
    )
    pa = (F.coalesce(F.col("ca"), F.lit(0)) + 1.0) / (
        F.col("tta") + F.lit(v)
    )
    pb = (F.coalesce(F.col("cb"), F.lit(0)) + 1.0) / (
        F.col("ttb") + F.lit(v)
    )
    klq = F.floor(pa * F.log(pa / pb) * 1000000000 + 0.5).cast("long")
    return (
        grid.select("src_a", "src_b", klq.alias("klq"))
        .groupBy("src_a", "src_b")
        .agg(F.round(F.sum("klq") / 1000000000.0, 6).alias("kl_ab"))
    )


# ---------------------------------------------------------------------------
# Intrinsic dimensionality: two-NN MLE over a query sample
# ---------------------------------------------------------------------------


@register(
    "sim_intrinsic_dim",
    oracle="""
    WITH emb AS (
      SELECT vec_id, embedding AS v,
             list_max(list_transform(embedding, x -> abs(x))) AS mx
      FROM embeddings
    ),
    q8 AS (
      SELECT vec_id,
             list_transform(v, x -> CASE WHEN mx = 0 THEN 0
               ELSE CAST(floor(x * 127.0 / mx + 0.5) AS INT) END) AS qv
      FROM emb
    ),
    nrm AS (
      SELECT vec_id, qv,
             CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x))
               AS BIGINT) AS n2
      FROM q8
    ),
    qs AS (SELECT vec_id AS q_id, qv AS qq, n2 AS qn2
           FROM nrm WHERE vec_id < 100),
    d2 AS (
      SELECT q_id,
             qn2 + c.n2 - 2 * CAST(list_sum(list_transform(
               range(1, len(qq) + 1), i -> CAST(qq[i] AS BIGINT) * c.qv[i]))
               AS BIGINT) AS dist2,
             c.vec_id AS cand_id
      FROM qs, nrm c WHERE c.vec_id <> q_id
    ),
    top2 AS (
      SELECT q_id, dist2,
             row_number() OVER (
               PARTITION BY q_id ORDER BY dist2, cand_id) AS rk
      FROM d2
    ),
    rr AS (
      SELECT a.q_id, a.dist2 AS r1sq, b.dist2 AS r2sq
      FROM top2 a JOIN top2 b
        ON a.q_id = b.q_id AND a.rk = 1 AND b.rk = 2
      WHERE a.dist2 > 0
    ),
    terms AS (
      SELECT CAST(floor(0.5 * ln(r2sq * 1.0 / r1sq)
             * 1000000000 + 0.5) AS BIGINT) AS lq
      FROM rr
    )
    SELECT COUNT(*) AS n_used,
           round(COUNT(*) * 1000000000.0 / sum(lq), 4) AS id_mle
    FROM terms
    """,
    tags=("similarity", "intrinsic-dimension"),
)
def sim_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intrinsic dimensionality of the embedding space via the TwoNN
    MLE: id ≈ n / Σ ln(r₂/r₁) over a 100-point sample — tells you
    whether a 64-dim space really carries 64 dims of structure (ANN
    recall and quantization loss both degrade with intrinsic dim).

    Runs on the shared int8 quantization: squared distances are exact
    integers (‖a‖²+‖b‖²−2a·b), the two nearest neighbors come from a
    WindowGroupLimit heap, duplicate points (r₁=0) are excluded
    identically on both engines, and the log-ratio terms quantize at
    1e-9 before the sum.  Sample-sized: the harness cost is
    (sample × corpus), decoupled from corpus²."""
    from multisql_spark.operators import spread

    t = load_tables(spark, sf_dir, ["embeddings"])
    # r11 (guide §2.2): fan out before the sample × corpus distance
    # pass — the zip_with dot products run interpreted and the
    # single-row-group local file pinned them to one core (no-op on
    # multi-split tables)
    emb = spread(
        t["embeddings"].select("vec_id", "embedding"), key="vec_id"
    ).select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.array_max(
            F.transform(F.col("embedding"), lambda x: F.abs(x))
        ).alias("mx"),
    )
    q8 = emb.select(
        "vec_id",
        F.transform(
            F.col("v"),
            lambda x: F.when(F.col("mx") == 0, F.lit(0)).otherwise(
                F.floor(x * 127.0 / F.col("mx") + 0.5).cast("int")
            ),
        ).alias("qv"),
    )
    nrm = q8.select(
        "vec_id",
        "qv",
        F.aggregate(
            F.transform(F.col("qv"), lambda x: x.cast("long") * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n2"),
    )
    qs = nrm.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("q_id"),
        F.col("qv").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qq"), F.col("qv"), lambda a, b: a.cast("long") * b
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d2 = (
        nrm.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            (F.col("qn2") + F.col("n2") - 2 * dot).alias("dist2"),
            F.col("vec_id").alias("cand_id"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.asc("dist2"), F.asc("cand_id"))
    )
    top2 = d2.withColumn("rk", rk).filter(F.col("rk") <= 2)
    # r11 (guide §1.2): both neighbor radii from ONE conditional
    # aggregate over the top-2 rows instead of filter-twice + join,
    # which re-instantiated the sample × corpus distance pass per
    # side; the null filters replicate the old inner join for queries
    # with fewer than two candidates.
    rr = (
        top2.groupBy("q_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("dist2"))).alias("r1sq"),
            F.max(F.when(F.col("rk") == 2, F.col("dist2"))).alias("r2sq"),
        )
        .filter(
            F.col("r1sq").isNotNull()
            & F.col("r2sq").isNotNull()
            & (F.col("r1sq") > 0)
        )
    )
    lq = F.floor(
        0.5 * F.log(F.col("r2sq") / F.col("r1sq")) * 1000000000 + 0.5
    ).cast("long")
    return rr.select(lq.alias("lq")).agg(
        F.count(F.lit(1)).alias("n_used"),
        F.round(
            F.count(F.lit(1)) * 1000000000.0 / F.sum("lq"), 4
        ).alias("id_mle"),
    )


# ---------------------------------------------------------------------------
# Dedup savings report: training tokens recovered by exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_token_savings",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped,
           CAST(sum(est_tokens) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN doc_id <> keeper
                    THEN est_tokens ELSE 0 END) AS BIGINT)
             AS tokens_saved,
           round(sum(CASE WHEN doc_id <> keeper
                     THEN est_tokens ELSE 0 END) * 1.0
                 / sum(est_tokens), 6) AS savings_rate
    FROM d GROUP BY source
    """,
    tags=("dedup", "savings", "report"),
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report: per source, the BPE-estimate training
    tokens recovered by exact dedup (keep the min-id copy of each
    content hash) — the number that justifies the dedup compute bill.

    The keeper choice is a window min over the 32-byte content digest
    (only digests shuffle); the savings rollup is one aggregation."""
    t = load_tables(spark, sf_dir, ["documents"])
    est = F.ceil(F.length("text") / 4.0).cast("long")
    d = t["documents"].select(
        "doc_id",
        "source",
        est.alias("est_tokens"),
        F.min("doc_id").over(W.partitionBy(F.md5("text"))).alias(
            "keeper"
        ),
    )
    dropped = F.col("doc_id") != F.col("keeper")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(dropped, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum("est_tokens").cast("long").alias("tokens_total"),
        F.sum(F.when(dropped, F.col("est_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_saved"),
        F.round(
            F.sum(F.when(dropped, F.col("est_tokens")).otherwise(0))
            / F.sum("est_tokens"),
            6,
        ).alias("savings_rate"),
    )


# ---------------------------------------------------------------------------
# Uncertainty quantification: deterministic half-sample bootstrap SE
# ---------------------------------------------------------------------------


@register(
    "events_bootstrap_se",
    oracle="""
    WITH h AS (
      SELECT CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS yq,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS hb
      FROM events
    ),
    reps AS (
      SELECT r.i AS rep,
             sum(CASE WHEN (hb // (1 << r.i)) % 2 = 0
                 THEN yq ELSE 0 END) AS s,
             sum(CASE WHEN (hb // (1 << r.i)) % 2 = 0
                 THEN 1 ELSE 0 END) AS n
      FROM h, (SELECT unnest(range(0, 16)) AS i) r
      GROUP BY r.i
    ),
    means AS (
      SELECT rep,
             CAST(floor(s * 1000000.0 / n + 0.5) AS BIGINT) AS mq
      FROM reps
    ),
    agg AS (
      SELECT COUNT(*) AS b, sum(CAST(mq AS HUGEINT)) AS sm,
             sum(CAST(mq AS HUGEINT) * mq) AS smm
      FROM means
    )
    SELECT b AS n_replicates,
           round(CAST(sm AS DOUBLE) / b / 1000000000000.0, 6)
             AS mean_of_means,
           round(sqrt((CAST(smm AS DOUBLE)
                       - CAST(sm AS DOUBLE) * sm / b) / (b - 1))
                 / 1000000000000.0 / sqrt(2.0), 6) AS half_sample_se
    FROM agg
    """,
    tags=("monitor", "bootstrap", "uncertainty"),
)
def events_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard error of the mean event value via deterministic
    half-sample bootstrap: 16 replicates, each keeping the rows whose
    md5 bit i is 0 (≈ half the data), SE = std(replicate means)/√2 —
    uncertainty quantification with NO random state, so the interval is
    reproducible across engines, reruns, and partitionings.

    All 16 replicate sums fold into ONE aggregation pass (conditional
    sums on md5 bits); replicate means quantize to 1e-6 before the
    across-replicate moments (exact HUGEINT)."""
    t = load_tables(spark, sf_dir, ["events"])
    yq = F.floor(F.col("value") * 1000000 + 0.5).cast("long")
    hb = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    h = t["events"].select(yq.alias("yq"), hb.alias("hb"))
    aggs = []
    for i in range(16):
        bit = (F.col("hb") / F.lit(1 << i)).cast("long") % 2
        aggs.append(
            F.sum(F.when(bit == 0, F.col("yq")).otherwise(0)).alias(
                f"s_{i}"
            )
        )
        aggs.append(
            F.sum(F.when(bit == 0, 1).otherwise(0)).alias(f"n_{i}")
        )
    wide = h.agg(*aggs)
    # r11: unpivot the 1-row wide aggregate with ONE explode instead of
    # the former 16-way self-union, which re-instantiated the whole
    # scan+aggregate subtree per replicate (plan: 16 parquet scans + 16
    # single-partition exchanges → 1 of each; guide §2.4).  try_divide:
    # a resample that drew no rows (tiny inputs) yields a NULL replicate
    # mean, like the oracle's NULL on /0.
    reps = wide.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("rep"),
                        F.floor(
                            F.try_divide(
                                F.col(f"s_{i}") * 1000000.0,
                                F.col(f"n_{i}"),
                            )
                            + 0.5
                        )
                        .cast("long")
                        .alias("mq"),
                    )
                    for i in range(16)
                ]
            )
        )
    )
    dec = "decimal(38,0)"
    return reps.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(
            F.sum(F.col("mq").cast(dec)).cast("double")
            / F.count(F.lit(1))
            / 1.0e12,
            6,
        ).alias("mean_of_means"),
        F.round(
            F.sqrt(
                (
                    F.sum(F.col("mq").cast(dec) * F.col("mq")).cast(
                        "double"
                    )
                    - F.sum(F.col("mq").cast(dec)).cast("double")
                    * F.sum(F.col("mq").cast(dec)).cast("double")
                    / F.count(F.lit(1))
                )
                / (F.count(F.lit(1)) - 1)
            )
            / 1.0e12
            / F.sqrt(F.lit(2.0)),
            6,
        ).alias("half_sample_se"),
    )


# ---------------------------------------------------------------------------
# Data-selection frontier: tokens kept vs mean quality at decile cuts
# ---------------------------------------------------------------------------


@register(
    "pipeline_selection_frontier",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens,
             CAST(floor(least(length(text) / 500.0, 1.0)
               * (len(list_distinct(string_split(text, ' ')))
                  * 1.0 / len(string_split(text, ' ')))
               * 1000000 + 0.5) AS BIGINT) AS qscore
      FROM documents
    ),
    ranked AS (
      SELECT est_tokens, qscore,
             ntile(10) OVER (ORDER BY qscore DESC, doc_id) AS decile
      FROM q
    ),
    per AS (
      SELECT decile, COUNT(*) AS n, sum(est_tokens) AS toks,
             sum(CAST(qscore AS HUGEINT)) AS sq
      FROM ranked GROUP BY decile
    )
    SELECT decile AS keep_top_deciles,
           CAST(sum(n) OVER w AS BIGINT) AS docs_kept,
           CAST(sum(toks) OVER w AS BIGINT) AS tokens_kept,
           round(CAST(sum(sq) OVER w AS DOUBLE)
                 / sum(n) OVER w / 1000000.0, 6) AS mean_quality
    FROM per
    WINDOW w AS (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("pipeline", "selection", "frontier"),
)
def pipeline_selection_frontier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-vs-quantity selection frontier: for each "keep the top k
    deciles by quality" cut, the documents/tokens retained and their
    mean quality — the curve that picks the data-selection operating
    point before a training run.

    Exact global quality ranks come from the bucket-offset pattern
    (approx-percentile ranges + tiny prefix windows — no global sort
    anywhere); the ten ntile boundaries are computed arithmetically and
    joined against the cumulative stream.  Quality is the deterministic
    length×diversity score quantized at 1e-6."""
    t = load_tables(spark, sf_dir, ["documents"])
    toks = F.split("text", " ")
    qscore = F.floor(
        F.least(F.length("text") / 500.0, F.lit(1.0))
        * (F.size(F.array_distinct(toks)) / F.size(toks))
        * 1000000
        + 0.5
    ).cast("long")
    q = t["documents"].select(
        "doc_id",
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_tokens"),
        qscore.alias("qscore"),
    )
    # exact global rank WITHOUT a global sort (the NTILE-rewrite /
    # ABC pattern): approx-percentile range buckets on the quality key,
    # per-bucket prefix offsets over the tiny bucket table, local
    # windows inside each bucket.  Cutpoint placement affects
    # parallelism only — ranks and therefore the frontier are exact.
    # r12 (guide §1.2): the exact row count rides the SAME build-time
    # aggregate as the percentile cutpoints — one driver action / one
    # pass over the qscore projection instead of two (the old shape ran
    # a separate q.count()).  Both values are unchanged.
    cuts_row = q.agg(
        F.expr(
            "approx_percentile(qscore, array("
            + ",".join(str((i + 1) / 16.0) for i in range(15))
            + "))"
        ).alias("cut"),
        F.count(F.lit(1)).alias("n_total"),
    ).collect()[0]
    cuts = cuts_row["cut"] or []  # empty input: no cutpoints, one bucket
    bucket = F.lit(0)
    for c in cuts:
        # bucket 0 holds the HIGHEST scores (frontier keeps best first)
        bucket = bucket + (F.col("qscore") <= F.lit(int(c))).cast("int")
    dec38 = "decimal(38,0)"
    b = q.withColumn("bkt", bucket)
    per_bkt = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("bn"),
        F.sum("est_tokens").alias("btoks"),
        F.sum(F.col("qscore").cast(dec38)).alias("bsq"),
    )
    prior = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    offsets = per_bkt.select(
        "bkt",
        F.coalesce(F.sum("bn").over(prior), F.lit(0)).alias("on_"),
        F.coalesce(F.sum("btoks").over(prior), F.lit(0)).alias("ot"),
        F.coalesce(
            F.sum("bsq").over(prior), F.lit(0).cast(dec38)
        ).alias("oq"),
    )
    loc = (
        W.partitionBy("bkt")
        .orderBy(F.desc("qscore"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = (
        b.withColumn("ln_", F.count(F.lit(1)).over(loc))
        .withColumn("lt", F.sum("est_tokens").over(loc))
        .withColumn("lq", F.sum(F.col("qscore").cast(dec38)).over(loc))
        .join(F.broadcast(offsets), "bkt")
        .select(
            (F.col("on_") + F.col("ln_")).alias("grank"),
            (F.col("ot") + F.col("lt")).alias("ctoks"),
            (F.col("oq") + F.col("lq")).alias("csq"),
        )
    )
    n_total = cuts_row["n_total"]
    qsz, rem = n_total // 10, n_total % 10
    # ntile boundary: cumulative docs after decile k = k*q + min(k, r)
    bounds = [(k, k * qsz + min(k, rem)) for k in range(1, 11)]
    bdf = F.broadcast(
        spark.createDataFrame(bounds, "keep_top_deciles int, grank long")
    )
    return cum.join(bdf, "grank").select(
        "keep_top_deciles",
        F.col("grank").cast("long").alias("docs_kept"),
        F.col("ctoks").cast("long").alias("tokens_kept"),
        F.round(
            F.col("csq").cast("double") / F.col("grank") / 1000000.0, 6
        ).alias("mean_quality"),
    )


# ---------------------------------------------------------------------------
# Reliability: MTBF / error availability per stream
# ---------------------------------------------------------------------------


@register(
    "events_reliability_mtbf",
    oracle=f"""
    WITH span AS (
      SELECT min({_EPOCH}) AS lo, max({_EPOCH}) AS hi,
             COUNT(*) AS n_total FROM events
    ),
    err AS (
      SELECT COUNT(*) AS n_err FROM events WHERE event_type = 'error'
    )
    SELECT CAST(hi - lo AS BIGINT) AS observed_sec,
           CAST(n_err AS BIGINT) AS n_errors,
           CAST((hi - lo) // greatest(n_err, 1) AS BIGINT)
             AS mtbf_sec,
           round(n_err * 86400.0 / (hi - lo), 4) AS errors_per_day,
           round(1.0 - n_err * 1.0 / n_total, 6) AS non_error_rate
    FROM span, err
    """,
    tags=("monitor", "reliability", "mtbf"),
)
def events_reliability_mtbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability headline: mean time between 'error' events, error
    rate per day, and the non-error fraction of all traffic — the SRE
    summary row.

    Two global aggregations (span + error count) — entirely
    map-side-combinable; integer second arithmetic end to end."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    e = t["events"].select(
        ts.alias("ts_sec"),
        (F.col("event_type") == "error").cast("int").alias("is_err"),
    )
    s = e.agg(
        F.min("ts_sec").alias("lo"),
        F.max("ts_sec").alias("hi"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum("is_err").alias("n_err"),
    )
    span = F.col("hi") - F.col("lo")
    return s.select(
        span.cast("long").alias("observed_sec"),
        F.col("n_err").cast("long").alias("n_errors"),
        F.floor(span / F.greatest(F.col("n_err"), F.lit(1)))
        .cast("long")
        .alias("mtbf_sec"),
        # try_divide: zero observed span (a single event) -> NULL rate,
        # matching the oracle's NULL on /0
        F.round(F.try_divide(F.col("n_err") * 86400.0, span), 4).alias(
            "errors_per_day"
        ),
        F.round(1.0 - F.col("n_err") / F.col("n_total"), 6).alias(
            "non_error_rate"
        ),
    )


# ---------------------------------------------------------------------------
# One-row business KPI card over orders
# ---------------------------------------------------------------------------


@register(
    "orders_business_kpis",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
    )
    SELECT
      (SELECT COUNT(*) FROM orders) AS n_orders,
      (SELECT COUNT(*) FROM per_cust) AS n_customers,
      (SELECT CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
              AS DOUBLE) FROM orders) AS revenue,
      (SELECT round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0, 4)
       FROM orders) AS avg_order_value,
      (SELECT round(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) * 1.0
                    / COUNT(*), 6) FROM per_cust) AS repeat_rate,
      (SELECT round(max(n) * 1.0 / (SELECT COUNT(*) FROM orders), 6)
       FROM per_cust) AS top_customer_share
    """,
    tags=("kpi", "card"),
)
def orders_business_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row commerce KPI card: volume, customers, revenue, AOV,
    repeat-purchase rate, and top-customer concentration — the
    dashboard headline block as a single deterministic query.

    Two aggregations total (orders-level + customer-level), joined as
    1-row broadcasts; money in exact cents."""
    t = load_tables(spark, sf_dir, ["orders"])
    o = t["orders"]
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    base = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
        F.sum(cents).alias("cents"),
    )
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    cust = per_cust.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_repeat"),
        F.max("n").alias("max_n"),
    )
    return base.crossJoin(F.broadcast(cust)).select(
        "n_orders",
        "n_customers",
        "revenue",
        F.round(
            F.col("cents").cast("double") / F.col("n_orders") / 100.0, 4
        ).alias("avg_order_value"),
        F.round(F.col("n_repeat") / F.col("n_customers"), 6).alias(
            "repeat_rate"
        ),
        F.round(F.col("max_n") / F.col("n_orders"), 6).alias(
            "top_customer_share"
        ),
    )


# ---------------------------------------------------------------------------
# Path analysis: most frequent 3-step user journeys
# ---------------------------------------------------------------------------


@register(
    "events_top_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS a,
             lead(event_type, 1) OVER (
               PARTITION BY user_id ORDER BY {_EPOCH}, event_id) AS b,
             lead(event_type, 2) OVER (
               PARTITION BY user_id ORDER BY {_EPOCH}, event_id) AS c
      FROM events
    )
    SELECT a || '>' || b || '>' || c AS path, COUNT(*) AS n
    FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 10
    """,
    tags=("temporal", "paths"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step user journeys (a>b>c event-type trigrams) —
    the path-analysis view behind funnel design: which sequences
    actually dominate.

    One user-keyed window pass (two leads share the sort), a bounded
    trigram aggregation (≤|types|³ groups), and a top-10 heap."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    w = W.partitionBy("user_id").orderBy("ts_sec", "event_id")
    seq = t["events"].select(
        "user_id", "event_id", F.col("event_type").alias("a"),
        ts.alias("ts_sec"),
    ).withColumn("b", F.lead("a", 1).over(w)).withColumn(
        "c", F.lead("a", 2).over(w)
    )
    return (
        seq.filter(F.col("b").isNotNull() & F.col("c").isNotNull())
        .select(
            F.concat_ws(">", "a", "b", "c").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Interrupted time series: pre/post effect around the CUSUM changepoint
# ---------------------------------------------------------------------------


@register(
    "events_interrupted_series",
    oracle=f"""
    WITH hourly AS (
      SELECT ({_EPOCH} // 3600) * 3600 AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, COUNT(*) AS nh, sum(n) AS sn
      FROM hourly GROUP BY event_type
    ),
    walk AS (
      SELECT h.event_type, h.h,
        sum(CAST(h.n AS HUGEINT) * nh - sn) OVER (
          PARTITION BY h.event_type ORDER BY h.h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS cusum_scaled
      FROM hourly h JOIN stats s ON h.event_type = s.event_type
    ),
    cp AS (
      SELECT event_type, h AS change_h FROM (
        SELECT event_type, h,
               row_number() OVER (
                 PARTITION BY event_type
                 ORDER BY abs(cusum_scaled) DESC, h) AS rk
        FROM walk
      ) WHERE rk = 1
    ),
    sides AS (
      SELECT h.event_type,
             CASE WHEN h.h <= cp.change_h THEN 'pre' ELSE 'post' END
               AS side,
             COUNT(*) AS nh, sum(h.n) AS sn,
             sum(CAST(h.n AS HUGEINT) * h.n) AS snn
      FROM hourly h JOIN cp ON h.event_type = cp.event_type
      GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(cp.change_h AS BIGINT) AS change_hour,
           round(a.sn * 1.0 / a.nh, 6) AS pre_mean_rate,
           round(b.sn * 1.0 / b.nh, 6) AS post_mean_rate,
           round((b.sn * 1.0 / b.nh - a.sn * 1.0 / a.nh)
             / sqrt(
               (CAST(a.snn AS DOUBLE) - CAST(a.sn AS DOUBLE) * a.sn / a.nh)
                 / (a.nh - 1) / a.nh
               + (CAST(b.snn AS DOUBLE) - CAST(b.sn AS DOUBLE) * b.sn / b.nh)
                 / (b.nh - 1) / b.nh), 4) AS effect_z
    FROM sides a
    JOIN sides b ON a.event_type = b.event_type
     AND a.side = 'pre' AND b.side = 'post'
    JOIN cp ON cp.event_type = a.event_type
    """,
    tags=("temporal", "causal", "interrupted-series"),
)
def events_interrupted_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted-time-series readout: locate each stream's level-shift
    hour (CUSUM peak), then estimate the pre→post rate change with a
    Welch z — the naive causal-impact analysis that follows any detected
    changepoint.

    Composition of two existing exact-integer machines (the CUSUM walk
    and the Welch moments), all on the bounded hourly rollup; the
    changepoint pick is a WindowGroupLimit head."""
    t = load_tables(spark, sf_dir, ["events"])
    hour = (
        (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long")
        * 3600
    ).alias("h")
    hourly = t["events"].groupBy(hour, F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    dec = "decimal(38,0)"
    # r11 (guide §1.2/§2.4): single-lineage rewrite. The former shape
    # re-instantiated `hourly` (a full events scan + groupBy) eight
    # times across stats/walk/cp/sides/a/b/final — per-type totals now
    # come from a whole-partition window, the changepoint from a
    # first_value window over the same exchange, and the pre/post Welch
    # moments from ONE conditional aggregate (no a⋈b self-join, no
    # final cp re-join).  Values are identical: nh/sn are the same
    # per-type count/sum, the cusum and rank-1 tie-breaks are the same
    # expressions, and the a⋈b inner join's "post side exists" gate is
    # replicated by the nh_b >= 1 filter (nh_a >= 1 always holds — the
    # changepoint hour itself is a 'pre' row).
    wtype = W.partitionBy("event_type")
    wsum = (
        wtype.orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    )
    walk = (
        hourly.withColumn("nh", F.count(F.lit(1)).over(wtype))
        .withColumn("sn", F.sum("n").over(wtype))
        .withColumn(
            "cusum_scaled",
            F.sum(F.col("n").cast(dec) * F.col("nh") - F.col("sn")).over(
                wsum
            ),
        )
    )
    cpw = wtype.orderBy(F.desc(F.abs(F.col("cusum_scaled"))), F.asc("h"))
    walk = walk.withColumn("change_h", F.first("h").over(cpw))
    pre = F.col("h") <= F.col("change_h")
    sides = walk.groupBy("event_type").agg(
        F.max("change_h").alias("change_h"),
        F.sum(F.when(pre, 1).otherwise(0)).alias("nh_a"),
        F.sum(F.when(pre, F.col("n")).otherwise(0)).alias("sn_a"),
        F.sum(
            F.when(pre, F.col("n").cast(dec) * F.col("n")).otherwise(
                F.lit(0).cast(dec)
            )
        ).alias("snn_a"),
        F.sum(F.when(~pre, 1).otherwise(0)).alias("nh_b"),
        F.sum(F.when(~pre, F.col("n")).otherwise(0)).alias("sn_b"),
        F.sum(
            F.when(~pre, F.col("n").cast(dec) * F.col("n")).otherwise(
                F.lit(0).cast(dec)
            )
        ).alias("snn_b"),
    )
    mean_a = F.col("sn_a") / F.col("nh_a")
    mean_b = F.col("sn_b") / F.col("nh_b")
    var_a = (
        F.col("snn_a").cast("double")
        - F.col("sn_a").cast("double") * F.col("sn_a") / F.col("nh_a")
    ) / (F.col("nh_a") - 1)
    var_b = (
        F.col("snn_b").cast("double")
        - F.col("sn_b").cast("double") * F.col("sn_b") / F.col("nh_b")
    ) / (F.col("nh_b") - 1)
    return (
        sides.filter(F.col("nh_b") >= 1)
        .select(
            "event_type",
            F.col("change_h").cast("long").alias("change_hour"),
            F.round(mean_a, 6).alias("pre_mean_rate"),
            F.round(mean_b, 6).alias("post_mean_rate"),
            F.round(
                (mean_b - mean_a)
                / F.sqrt(
                    var_a / F.col("nh_a") + var_b / F.col("nh_b")
                ),
                4,
            ).alias("effect_z"),
        )
    )


# ---------------------------------------------------------------------------
# K-fold cross-validation assignments
# ---------------------------------------------------------------------------


@register(
    "sample_kfold",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 5 AS fold,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n, sum(est_tokens) AS toks FROM f)
    SELECT CAST(fold AS INT) AS fold,
           COUNT(*) AS n_eval,
           CAST(max(n) - COUNT(*) AS BIGINT) AS n_train,
           CAST(sum(est_tokens) AS BIGINT) AS eval_tokens,
           round(COUNT(*) * 1.0 / max(n), 6) AS eval_frac
    FROM f, tot GROUP BY fold
    """,
    tags=("sampling", "kfold", "cv"),
)
def sample_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment: md5(doc_id) % 5 gives every
    document a stable fold; the audit reports each fold's eval size,
    complementary train size, and token mass.

    RNG-free like every split here — fold membership survives reruns,
    engine changes, and repartitioning, so CV results are exactly
    reproducible.  One aggregation + a broadcast total."""
    t = load_tables(spark, sf_dir, ["documents"])
    fold = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 5
    ).cast("int")
    f = t["documents"].select(
        fold.alias("fold"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_tokens"),
    )
    tot = f.agg(F.count(F.lit(1)).alias("n"))
    return (
        f.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum("est_tokens").cast("long").alias("eval_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_eval",
            (F.col("n") - F.col("n_eval")).cast("long").alias("n_train"),
            "eval_tokens",
            F.round(F.col("n_eval") / F.col("n"), 6).alias("eval_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Error contagion: P(error | recent error) vs the base rate
# ---------------------------------------------------------------------------


@register(
    "events_error_contagion",
    oracle=f"""
    WITH mins AS (
      SELECT {_EPOCH} // 60 AS m,
             max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS has_err
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT m, has_err,
             max(has_err) OVER (
               ORDER BY m RANGE BETWEEN 5 PRECEDING AND 1 PRECEDING
             ) AS recent_err
      FROM mins
    )
    SELECT
      COUNT(*) AS n_minutes,
      round(sum(has_err) * 1.0 / COUNT(*), 6) AS base_rate,
      round(sum(CASE WHEN recent_err = 1 THEN has_err ELSE 0 END) * 1.0
            / nullif(sum(CASE WHEN recent_err = 1 THEN 1 ELSE 0 END), 0),
            6) AS rate_after_error,
      round((sum(CASE WHEN recent_err = 1 THEN has_err ELSE 0 END) * 1.0
             / nullif(sum(CASE WHEN recent_err = 1 THEN 1 ELSE 0 END), 0))
            / (sum(has_err) * 1.0 / COUNT(*)), 4) AS contagion_lift
    FROM lagged WHERE recent_err IS NOT NULL
    """,
    tags=("monitor", "contagion", "errors"),
)
def events_error_contagion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error contagion: the probability a minute contains an error given
    an error occurred in the previous five minutes, vs the base rate —
    lift ≫ 1 means failures cluster (retry storms, cascades) and the
    alerting window should extend.

    The minute series is bounded by the TIME SPAN, not the data volume
    (43k rows for a month at any corpus size), so its RANGE-frame
    window is scale-free; the per-minute indicator is one
    map-side-combinable aggregation of the raw stream."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long")
    mins = t["events"].select(
        (ts / 60).cast("long").alias("m"),
        (F.col("event_type") == "error").cast("int").alias("is_err"),
    ).groupBy("m").agg(F.max("is_err").alias("has_err"))
    w = W.orderBy("m").rangeBetween(-5, -1)
    lagged = mins.withColumn("recent_err", F.max("has_err").over(w))
    l = lagged.filter(F.col("recent_err").isNotNull())
    after = F.sum(
        F.when(F.col("recent_err") == 1, F.col("has_err")).otherwise(0)
    ) / F.nullif(
        F.sum(F.when(F.col("recent_err") == 1, 1).otherwise(0)),
        F.lit(0),
    )
    base = F.sum("has_err") / F.count(F.lit(1))
    return l.agg(
        F.count(F.lit(1)).alias("n_minutes"),
        F.round(base, 6).alias("base_rate"),
        F.round(after, 6).alias("rate_after_error"),
        F.round(after / base, 4).alias("contagion_lift"),
    )


# ---------------------------------------------------------------------------
# Embedding separability: per-query label margin on the int8 path
# ---------------------------------------------------------------------------


@register(
    "sim_label_margin",
    oracle="""
    WITH emb AS (
      SELECT vec_id, label, embedding AS v,
             list_max(list_transform(embedding, x -> abs(x))) AS mx
      FROM embeddings
    ),
    q8 AS (
      SELECT vec_id, label,
             list_transform(v, x -> CASE WHEN mx = 0 THEN 0
               ELSE CAST(floor(x * 127.0 / mx + 0.5) AS INT) END) AS qv
      FROM emb
    ),
    qs AS (SELECT vec_id AS q_id, label AS q_label, qv AS qq
           FROM q8 WHERE vec_id < 20),
    scored AS (
      SELECT q_id, q_label, c.label AS cand_label,
             CAST(list_sum(list_transform(range(1, len(qq) + 1),
               i -> qq[i] * c.qv[i])) AS BIGINT) AS qdot
      FROM qs, q8 c WHERE c.vec_id <> q_id
    )
    SELECT q_id,
           CAST(q_label AS BIGINT) AS true_label,
           max(CASE WHEN cand_label = q_label THEN qdot END)
             AS best_same,
           max(CASE WHEN cand_label <> q_label THEN qdot END)
             AS best_other,
           CAST(max(CASE WHEN cand_label = q_label THEN qdot END)
                - max(CASE WHEN cand_label <> q_label THEN qdot END)
             AS BIGINT) AS margin,
           CASE WHEN max(CASE WHEN cand_label = q_label THEN qdot END)
                > max(CASE WHEN cand_label <> q_label THEN qdot END)
           THEN 1 ELSE 0 END AS separable
    FROM scored GROUP BY q_id, q_label
    """,
    tags=("similarity", "margin", "eval"),
)
def sim_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding separability margin: per query, the best same-label
    dot product minus the best other-label dot product — positive
    margin means the nearest neighbor respects the label; the margin
    distribution is the metric-learning health check underlying the
    kNN accuracy number.

    Same broadcast int8 scoring shape as `sim_knn_label_eval`; the
    margin is one conditional-max aggregation per query — exact
    integers end to end."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"].select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("embedding").alias("v"),
        F.array_max(
            F.transform(F.col("embedding"), lambda x: F.abs(x))
        ).alias("mx"),
    )
    q8 = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("v"),
            lambda x: F.when(F.col("mx") == 0, F.lit(0)).otherwise(
                F.floor(x * 127.0 / F.col("mx") + 0.5).cast("int")
            ),
        ).alias("qv"),
    )
    qs = q8.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("qv").alias("qq"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("qv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        q8.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            F.col("label").alias("cand_label"),
            dot.alias("qdot"),
        )
    )
    same = F.max(
        F.when(F.col("cand_label") == F.col("q_label"), F.col("qdot"))
    )
    other = F.max(
        F.when(F.col("cand_label") != F.col("q_label"), F.col("qdot"))
    )
    return scored.groupBy(
        "q_id", F.col("q_label").alias("true_label")
    ).agg(
        same.alias("best_same"),
        other.alias("best_other"),
        (same - other).cast("long").alias("margin"),
        F.when(same > other, 1).otherwise(0).alias("separable"),
    )


# ---------------------------------------------------------------------------
# Prep-pipeline stage funnel (row accounting per stage)
# ---------------------------------------------------------------------------


@register(
    "pipeline_stage_funnel",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS pass_len,
             CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
               THEN 1 ELSE 0 END AS is_keeper,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                  1, 8)) AS BIGINT) % 10 < 8 THEN 1 ELSE 0 END AS in_train
      FROM documents
    )
    SELECT
      COUNT(*) AS n_input,
      CAST(sum(pass_len) AS BIGINT) AS n_after_length,
      CAST(sum(pass_len * is_keeper) AS BIGINT) AS n_after_dedup,
      CAST(sum(pass_len * is_keeper * in_train) AS BIGINT)
        AS n_train_final,
      round(sum(pass_len * is_keeper * in_train) * 1.0 / COUNT(*), 6)
        AS overall_yield
    FROM d
    """,
    tags=("pipeline", "funnel", "observability"),
)
def pipeline_stage_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prep-pipeline stage funnel: documents surviving each stage
    (length filter → exact dedup → train split) and the overall yield —
    the row-accounting report every production pipeline publishes next
    to its output.

    All stage flags evaluate per document in one pass (the dedup keeper
    via a digest-keyed window min), so the entire funnel is ONE
    aggregation — no per-stage re-scans."""
    t = load_tables(spark, sf_dir, ["documents"])
    keeper = (
        F.col("doc_id")
        == F.min("doc_id").over(W.partitionBy(F.md5("text")))
    ).cast("int")
    in_train = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
        < 8
    ).cast("int")
    pass_len = (F.col("n_chars") >= 100).cast("int")
    d = t["documents"].select(
        pass_len.alias("pass_len"),
        keeper.alias("is_keeper"),
        in_train.alias("in_train"),
    )
    surv = F.col("pass_len") * F.col("is_keeper")
    final = surv * F.col("in_train")
    return d.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum("pass_len").cast("long").alias("n_after_length"),
        F.sum(surv).cast("long").alias("n_after_dedup"),
        F.sum(final).cast("long").alias("n_train_final"),
        F.round(F.sum(final) / F.count(F.lit(1)), 6).alias(
            "overall_yield"
        ),
    )


# ---------------------------------------------------------------------------
# Receivables-style aging report for open orders
# ---------------------------------------------------------------------------


@register(
    "orders_aging_report",
    oracle="""
    WITH hz AS (
      SELECT max(CAST(floor(date_part('epoch', o_orderdate)) AS BIGINT))
        AS h FROM orders
    ),
    open_o AS (
      SELECT o_orderstatus,
        (h - CAST(floor(date_part('epoch', o_orderdate)) AS BIGINT))
          // 86400 AS age_days,
        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders, hz WHERE o_orderstatus <> 'F'
    )
    SELECT o_orderstatus,
      CASE WHEN age_days <= 30 THEN '0-30'
           WHEN age_days <= 60 THEN '31-60'
           WHEN age_days <= 90 THEN '61-90'
           ELSE '90+' END AS age_bucket,
      COUNT(*) AS n_orders,
      CAST(round(sum(cents) / 100.0, 2) AS DOUBLE) AS open_value
    FROM open_o GROUP BY 1, 2
    """,
    tags=("finance", "aging"),
)
def orders_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging report for open (non-final) orders: count and value per
    status × age bucket relative to the data horizon — the
    receivables/backlog view.

    Horizon is a 1-row broadcast; bucketing is pure integer-day
    comparison; one aggregation over the status-filtered scan (filter
    pushed to parquet)."""
    t = load_tables(spark, sf_dir, ["orders"])
    ep = F.unix_timestamp("o_orderdate").cast("long")
    hz = t["orders"].agg(F.max(ep).alias("h"))
    o = (
        t["orders"]
        .filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(hz))
        .select(
            "o_orderstatus",
            ((F.col("h") - ep) / 86400).cast("long").alias("age_days"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 60, "31-60")
        .when(F.col("age_days") <= 90, "61-90")
        .otherwise("90+")
    )
    return o.groupBy(
        "o_orderstatus", bucket.alias("age_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("cents") / 100.0, 2)
        .cast("double")
        .alias("open_value"),
    )


# ---------------------------------------------------------------------------
# First-touch attribution (mirror of the last-touch operator)
# ---------------------------------------------------------------------------


@register(
    "events_attribution_first_touch",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type, value,
        min(CASE WHEN event_type IN ('view', 'click')
            THEN ({_EPOCH} - 1700000000) * 10000000000 + event_id
            END) OVER (
          PARTITION BY user_id ORDER BY {_EPOCH}, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS touch_key
      FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           event_id AS purchase_id,
           value AS purchase_value,
           CASE WHEN touch_key IS NULL THEN -1
                ELSE CAST(touch_key % 10000000000 AS BIGINT)
           END AS first_touch_event_id
    FROM seq WHERE event_type = 'purchase'
    """,
    tags=("temporal", "attribution"),
)
def events_attribution_first_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch attribution: each purchase credits the EARLIEST
    preceding view/click by the same user — the acquisition-channel
    counterpart of `events_attribution_last_touch` (same packed-key
    window trick with a running conditional MIN instead of MAX)."""
    t = load_tables(spark, sf_dir, ["events"])
    ts = F.unix_timestamp("ts").cast("long") - F.lit(1700000000)
    is_touch = F.col("event_type").isin("view", "click")
    tk = F.when(is_touch, ts * F.lit(10000000000) + F.col("event_id"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seq = t["events"].select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_id",
        "event_type",
        "value",
        ts.alias("ts_sec"),
        tk.alias("tk"),
    ).withColumn("touch_key", F.min("tk").over(w))
    return seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
        F.when(F.col("touch_key").isNull(), F.lit(-1))
        .otherwise((F.col("touch_key") % 10000000000).cast("long"))
        .alias("first_touch_event_id"),
    )


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey,
             CAST(min(EXTRACT(year FROM o_orderdate)) AS BIGINT)
               AS cohort_year
      FROM orders GROUP BY o_custkey
    ),
    rev AS (
      SELECT f.cohort_year,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
             sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
               AS rev_cents
      FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    ),
    cohort_size AS (
      SELECT cohort_year, count(*) AS cohort_customers
      FROM first_order GROUP BY cohort_year
    )
    SELECT r.cohort_year,
           r.order_year - r.cohort_year AS years_since,
           CAST(s.cohort_customers AS BIGINT) AS cohort_customers,
           CAST(sum(r.rev_cents) OVER (
             PARTITION BY r.cohort_year ORDER BY r.order_year
           ) AS BIGINT) AS cum_revenue_cents,
           round(sum(r.rev_cents) OVER (
             PARTITION BY r.cohort_year ORDER BY r.order_year
           ) / (s.cohort_customers * 100.0), 2) AS cum_ltv_per_customer
    FROM rev r JOIN cohort_size s ON r.cohort_year = s.cohort_year
    """,
    tags=("business", "cohort", "ltv"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curve: customers cohorted by first-order
    year, cumulative revenue per cohort tracked across subsequent years,
    normalized to LTV-per-customer — the acquisition-economics companion
    to `events_retention_cohorts` (which counts activity, not value).

    The first-order aggregate and the revenue join share the o_custkey
    partitioning (one shuffle feeds both); revenue is exact integer
    cents; the cumulative window runs over the BOUNDED (cohort × year)
    aggregate — a few dozen rows — never over order rows, so the curve
    costs two aggregations at any corpus size."""
    t = load_tables(spark, sf_dir, ["orders"])
    o = t["orders"]
    first_order = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("long").alias("cohort_year")
    )
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    rev = (
        o.join(first_order, "o_custkey")
        .groupBy(
            "cohort_year",
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(F.sum(cents).alias("rev_cents"))
    )
    cohort_size = first_order.groupBy("cohort_year").agg(
        F.count(F.lit(1)).alias("cohort_customers")
    )
    cum = F.sum("rev_cents").over(
        W.partitionBy("cohort_year").orderBy("order_year")
    )
    return (
        rev.join(F.broadcast(cohort_size), "cohort_year")
        .select(
            "cohort_year",
            (F.col("order_year") - F.col("cohort_year")).alias("years_since"),
            F.col("cohort_customers").cast("long").alias("cohort_customers"),
            cum.cast("long").alias("cum_revenue_cents"),
            F.round(
                cum / (F.col("cohort_customers") * 100.0), 2
            ).alias("cum_ltv_per_customer"),
        )
    )


@register(
    "monitor_score_auc",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             CAST(floor(len(list_distinct(string_split(text, ' ')))
                  * 10000.0 / len(string_split(text, ' '))) AS BIGINT)
               AS score_q,
             (lang = 'en') AS pos
      FROM documents
    ),
    per_score AS (
      SELECT score_q, count(*) AS c,
             sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p
      FROM q GROUP BY score_q
    ),
    ranked AS (
      SELECT score_q, c, p,
             COALESCE(sum(c) OVER (
               ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM per_score
    ),
    agg AS (
      SELECT sum(p) AS n_pos, sum(c - p) AS n_neg,
             sum(p * (2 * cum_before + c + 1)) AS ranksum2
      FROM ranked
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(ranksum2 AS BIGINT) AS ranksum2,
           round((ranksum2 - n_pos * (n_pos + 1.0))
                 / (2.0 * n_pos * n_neg), 6) AS auc
    FROM agg
    """,
    tags=("monitoring", "auc", "evaluation"),
)
def monitor_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a quality score (token diversity) predicting a
    label (`lang = 'en'`) — the classifier-free evaluation harness for
    any scoring rule the pipeline wants to gate on.

    AUC is the Mann-Whitney rank statistic, so it needs ranks — but
    NEVER a global sort of documents: scores quantize to 1e-4 integers,
    tie groups aggregate to one row per DISTINCT score value, and each
    group's average-rank contribution is closed-form
    (p·(2·cum_before + c + 1), kept ×2 so it stays integer).  The only
    ordered pass runs over the bounded distinct-score table; everything
    row-scale is one map-side-combined aggregation.  BIGINT rank sums
    hold to ~3·10⁹ rows — swap to DECIMAL(38,0)/HUGEINT beyond."""
    t = load_tables(spark, sf_dir, ["documents"])
    toks = F.split("text", " ")
    q = t["documents"].select(
        F.floor(
            F.size(F.array_distinct(toks)) * 10000.0 / F.size(toks)
        )
        .cast("long")
        .alias("score_q"),
        (F.col("lang") == "en").alias("pos"),
    )
    per_score = q.groupBy("score_q").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("p"),
    )
    asc = W.orderBy("score_q").rowsBetween(W.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(asc), F.lit(0))
    )
    agg = ranked.agg(
        F.sum("p").alias("n_pos"),
        F.sum(F.col("c") - F.col("p")).alias("n_neg"),
        F.sum(
            F.col("p") * (2 * F.col("cum_before") + F.col("c") + 1)
        ).alias("ranksum2"),
    )
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("ranksum2").cast("long").alias("ranksum2"),
        # try_divide: AUC is undefined with a single class present ->
        # NULL, matching the oracle's NULL on /0
        F.round(
            F.try_divide(
                F.col("ranksum2")
                - F.col("n_pos") * (F.col("n_pos") + 1.0),
                2.0 * F.col("n_pos") * F.col("n_neg"),
            ),
            6,
        ).alias("auc"),
    )


@register(
    "monitor_score_calibration",
    oracle="""
    WITH q AS (
      SELECT CAST(floor(len(list_distinct(string_split(text, ' ')))
                  * 10000.0 / len(string_split(text, ' '))) AS BIGINT)
               AS score_q,
             (lang = 'en') AS pos
      FROM documents
    ),
    binned AS (
      SELECT least(CAST(score_q * 10 // 10000 AS BIGINT), 9) AS bin,
             count(*) AS n,
             sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
             sum(score_q) AS sum_sq
      FROM q GROUP BY 1
    ),
    tot AS (SELECT sum(n) * 1.0 AS n_total FROM binned)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           round(sum_sq / (n * 10000.0), 6) AS mean_pred,
           round(n_pos * 1.0 / n, 6) AS frac_pos,
           round((n / n_total)
                 * abs(n_pos * 1.0 / n - sum_sq / (n * 10000.0)), 6)
             AS ece_term
    FROM binned, tot
    """,
    tags=("monitoring", "calibration", "evaluation"),
)
def monitor_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Expected Calibration Error terms for the
    same quality score `monitor_score_auc` evaluates: the score (token
    diversity, read as a [0,1] confidence) buckets into 10 equal-width
    bins; per bin the mean predicted value is compared to the empirical
    positive rate, and `sum(ece_term)` IS the ECE.  AUC answers "does
    the score rank well" — calibration answers "can its value be
    trusted as a probability", the pair every model-gated ingestion
    filter needs before thresholding.

    One map-side-combined aggregation into ≤10 bins; every reported
    value derives from exact integer aggregates (n, n_pos, 1e-4
    quantized score sums), so the doubles are engine-deterministic.
    Scales as a constant-size shuffle at any corpus size."""
    t = load_tables(spark, sf_dir, ["documents"])
    toks = F.split("text", " ")
    q = t["documents"].select(
        F.floor(
            F.size(F.array_distinct(toks)) * 10000.0 / F.size(toks)
        )
        .cast("long")
        .alias("score_q"),
        (F.col("lang") == "en").alias("pos"),
    )
    binned = q.groupBy(
        F.least(
            (F.col("score_q") * 10 / 10000).cast("long"), F.lit(9)
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
        F.sum("score_q").alias("sum_sq"),
    )
    tot = binned.agg((F.sum("n") * 1.0).alias("n_total"))
    return binned.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(F.col("sum_sq") / (F.col("n") * 10000.0), 6).alias(
            "mean_pred"
        ),
        F.round(F.col("n_pos") * 1.0 / F.col("n"), 6).alias("frac_pos"),
        F.round(
            (F.col("n") / F.col("n_total"))
            * F.abs(
                F.col("n_pos") * 1.0 / F.col("n")
                - F.col("sum_sq") / (F.col("n") * 10000.0)
            ),
            6,
        ).alias("ece_term"),
    )


@register(
    "events_ewma_hourly",
    oracle=f"""
    WITH rollup AS (
      SELECT event_type, ({_EPOCH} // 3600) AS hr, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    sm AS (
      SELECT cur.event_type, cur.hr,
             sum(past.n * CAST(pow(2, 11 - (cur.hr - past.hr)) AS BIGINT))
               AS num,
             sum(CAST(pow(2, 11 - (cur.hr - past.hr)) AS BIGINT)) AS den
      FROM rollup cur
      JOIN rollup past
        ON past.event_type = cur.event_type
       AND cur.hr - past.hr BETWEEN 0 AND 11
      GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(hr * 3600 AS BIGINT) AS hour_start,
           CAST(num AS BIGINT) AS ewma_num,
           CAST(den AS BIGINT) AS ewma_den,
           round(num / CAST(den AS DOUBLE), 4) AS ewma_rate
    FROM sm
    """,
    tags=("temporal", "ewma", "smoothing"),
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly event rates
    (α = 0.5, 12-hour horizon) — the smoothed baseline behind alerting
    thresholds, computed WITHOUT a sequential recurrence: with α = 1/2
    the trailing weights are exact powers of two, so the EWMA is a
    weighted sum over a bounded 12-hour self-join of the rollup —
    integer numerator/denominator, no float accumulation order, no
    per-stream sequential scan.

    The rollup is bounded (streams × hours), the self-join fan-out is
    ≤12 per row, and missing hours drop out of both numerator and
    denominator identically in any engine.  A different α swaps the
    power-of-two weights for a quantized-integer weight table — the
    structure is unchanged."""
    t = load_tables(spark, sf_dir, ["events"])
    rollup = t["events"].groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    cur = rollup.select(
        "event_type", F.col("hr").alias("cur_hr")
    ).distinct()
    past = rollup.select(
        F.col("event_type").alias("et2"),
        F.col("hr").alias("past_hr"),
        "n",
    )
    w = F.pow(2, 11 - (F.col("cur_hr") - F.col("past_hr"))).cast("long")
    sm = (
        cur.join(
            past,
            (F.col("event_type") == F.col("et2"))
            & ((F.col("cur_hr") - F.col("past_hr")).between(0, 11)),
        )
        .groupBy("event_type", "cur_hr")
        .agg(
            F.sum(F.col("n") * w).alias("num"),
            F.sum(w).alias("den"),
        )
    )
    return sm.select(
        "event_type",
        (F.col("cur_hr") * 3600).cast("long").alias("hour_start"),
        F.col("num").cast("long").alias("ewma_num"),
        F.col("den").cast("long").alias("ewma_den"),
        F.round(F.col("num") / F.col("den").cast("double"), 4).alias(
            "ewma_rate"
        ),
    )


@register(
    "part_affinity_pairs",
    oracle="""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    part_orders AS (
      SELECT l_partkey, count(*) AS n_orders FROM lines GROUP BY 1
    ),
    n_all AS (SELECT count(DISTINCT l_orderkey) AS n FROM lines),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_both
      FROM lines a JOIN lines b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           CAST(pa.n_orders AS BIGINT) AS n_a,
           CAST(pb.n_orders AS BIGINT) AS n_b,
           round(p.n_both * n_all.n
                 / CAST(pa.n_orders * pb.n_orders AS DOUBLE), 4) AS lift
    FROM pairs p
    JOIN part_orders pa ON pa.l_partkey = p.part_a
    JOIN part_orders pb ON pb.l_partkey = p.part_b
    CROSS JOIN n_all
    WHERE p.n_both >= 3
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """,
    tags=("business", "market-basket", "affinity"),
)
def part_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity on the ORDER fact: top part pairs by lift
    (P(both) / P(a)·P(b)) among parts co-occurring in ≥3 orders — the
    lineitem-grain sibling of `events_cooccurrence_lift` (whose pair
    space is user-keyed event types).

    The self-join is keyed on l_orderkey, so pair fan-out is bounded by
    (lines-per-order choose 2) — never a parts×parts product; marginals
    are one bounded aggregation broadcast back; the support floor prunes
    the pair table before ranking, and the top-20 is a heap with a
    total (lift, a, b) tie-break.  Integer counts keep lift exact up to
    the final double division, identical in both engines."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    # r12 (guide §2.4): ONE shuffle of the fact — per-order sorted
    # distinct part sets — replaces the old distinct + order-keyed
    # self-join (which re-shuffled the distinct'd fact twice more).
    # Pairs come from a double index explode over the bounded per-order
    # set (same (part_a < part_b, count) semantics — the fan-out stays
    # (lines-per-order choose 2), never parts×parts); both marginals and
    # the order count derive from the same grouped table instead of two
    # more passes over the fact.  Values identical (A/B row-equality +
    # oracle ×3 SFs); 1.30 → 0.91 s fresh-plan noop at sf0.1.
    orders = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = (
        orders.filter(F.size("parts") >= 2)
        .select(
            "parts",
            F.explode(
                F.sequence(F.lit(1), F.size("parts") - 1)
            ).alias("i"),
        )
        .select(
            "parts",
            "i",
            F.explode(
                F.sequence(F.col("i") + 1, F.size("parts"))
            ).alias("j"),
        )
        .select(
            F.element_at("parts", F.col("i")).alias("part_a"),
            F.element_at("parts", F.col("j")).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    part_orders = (
        orders.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    n_all = orders.agg(F.count(F.lit(1)).alias("n"))
    pa = part_orders.toDF("part_a", "n_a")
    pb = part_orders.toDF("part_b", "n_b")
    # r11 (VERDICT r10 What's-wrong #1): the per-part marginals grow
    # linearly with the corpus — a FORCED broadcast of that side would
    # hit Spark's 8 GiB broadcast hard-limit at 100×.  No hint: AQE
    # picks broadcast when the side is actually small (it is at every
    # test SF) and falls back to a shuffled join when it is not.  The
    # 1-row n_all broadcast stays pinned (it is a scalar by
    # construction).
    return (
        pairs.join(pa, "part_a")
        .join(pb, "part_b")
        .join(F.broadcast(n_all))
        .select(
            "part_a",
            "part_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_both")
                * F.col("n")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@register(
    "events_rate_limit_audit",
    oracle=f"""
    WITH per_min AS (
      SELECT user_id, ({_EPOCH} // 60) AS m, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    trail3 AS (
      SELECT cur.user_id, cur.m,
             sum(past.n) AS n_3min
      FROM per_min cur
      JOIN per_min past
        ON past.user_id = cur.user_id
       AND cur.m - past.m BETWEEN 0 AND 2
      GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_active_minutes,
           CAST(sum(CASE WHEN n_3min > 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           CAST(max(n_3min) AS BIGINT) AS peak_3min
    FROM trail3
    GROUP BY user_id
    HAVING sum(CASE WHEN n_3min > 10 THEN 1 ELSE 0 END) > 0
    """,
    tags=("monitoring", "rate-limit", "abuse"),
)
def events_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limit violation audit: users whose trailing-3-minute event
    count ever exceeded the cap (10), with violation counts and peak
    burst — the abuse/bot screen run before an ingestion source is
    trusted (the per-user mirror of `events_burst_hours`).

    Events collapse to (user, minute) counts first — the only
    data-scale aggregation, map-side combinable; the trailing window is
    a bounded ≤3-fanout self-join of that rollup (the `events_ewma_hourly`
    scheme), so no per-user ordered scan and no streaming state.  The
    HAVING keeps output O(violators)."""
    t = load_tables(spark, sf_dir, ["events"])
    per_min = t["events"].groupBy(
        F.col("user_id"),
        F.floor(F.unix_timestamp("ts") / 60).cast("long").alias("m"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # r11 (guide §1.2/§3): each (user, minute, n) row contributes to
    # the three trailing windows ending at m, m+1, m+2 — explode those
    # window ends and re-aggregate, instead of a range self-join that
    # instantiated the events rollup twice.  A window end only counts
    # if it is itself an active minute (the old join's cur side), which
    # the delta-0 contribution marks.  Same ≤3 fan-out, one rollup
    # pass, no join.
    trailing = (
        per_min.select(
            "user_id",
            "m",
            "n",
            F.explode(F.expr("sequence(m, m + 2)")).alias("cur_m"),
        )
        .groupBy("user_id", "cur_m")
        .agg(
            F.sum("n").alias("n_3min"),
            F.max(
                F.when(F.col("m") == F.col("cur_m"), 1)
            ).alias("_active"),
        )
        .filter(F.col("_active") == 1)
        .select("user_id", "cur_m", "n_3min")
    )
    return (
        trailing.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_active_minutes"),
            F.sum(F.when(F.col("n_3min") > 10, 1).otherwise(0)).alias(
                "nv"
            ),
            F.max("n_3min").alias("peak_3min"),
        )
        .filter(F.col("nv") > 0)
        .select(
            "user_id",
            F.col("n_active_minutes").cast("long").alias("n_active_minutes"),
            F.col("nv").cast("long").alias("n_violations"),
            F.col("peak_3min").cast("long").alias("peak_3min"),
        )
    )


@register(
    "events_realtime_rollup",
    oracle=f"""
    SELECT event_type,
           ({_EPOCH} // 3600) * 3600 AS hour_start,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
    tags=("temporal", "realtime", "continuous-aggregate"),
)
def events_realtime_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time continuous aggregate (the TimescaleDB real-time view
    shape): the hourly rollup is served as MATERIALIZED-part ∪ LIVE-tail
    — history older than the materialization watermark comes from the
    precomputed aggregate, only the newest slice re-aggregates raw
    events, and the two merge by summing partial states (counts and
    exact cent sums are mergeable, `operators.incremental`'s property).

    The oracle is the full recompute, so the query PROVES
    merge(matview(old), agg(tail)) ≡ recompute.  At 100 TB the
    materialized part is a bounded stored table maintained by
    `matview_incremental_merge` / `stream_rollup_sink`, the tail scan
    is partition-pruned to the last slice by the watermark predicate,
    and serving cost is O(groups) + O(tail), independent of history."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"]
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    wm = ev.agg(
        (F.max(F.unix_timestamp("ts")) - 2 * 3600).alias("wm")
    )

    def rollup(df):
        return df.groupBy(
            "event_type", hour.alias("hour_start")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("value_cents"),
        )

    with_wm = ev.join(F.broadcast(wm))
    mat = rollup(with_wm.filter(F.unix_timestamp("ts") < F.col("wm")))
    live = rollup(with_wm.filter(F.unix_timestamp("ts") >= F.col("wm")))
    return (
        mat.unionByName(live)
        .groupBy("event_type", "hour_start")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
    )


@register(
    "events_hill_tail_index",
    oracle="""
    WITH per_user AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ),
    topk AS (
      SELECT cnt FROM per_user
      ORDER BY cnt DESC, user_id LIMIT 101
    ),
    xmin AS (SELECT min(cnt) * 1.0 AS xm FROM topk),
    terms AS (
      SELECT CAST(round(ln(t.cnt / x.xm) * 1e9) AS BIGINT) AS lr_q
      FROM topk t, xmin x
      ORDER BY lr_q DESC LIMIT 100
    )
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(lr_q) AS BIGINT) AS sum_logratio_q,
           round(count(*) * 1e9 / sum(lr_q), 4) AS hill_alpha
    FROM terms
    """,
    tags=("telemetry", "power-law", "hill"),
)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail exponent of per-user
    activity (α = k / Σ ln(xᵢ/x_min) over the top-k order statistics) —
    the quantitative form of "how heavy is the heavy-user tail", which
    prices every per-user-keyed operation's skew risk (α ≲ 2 means the
    top users dominate and salting is mandatory).

    The only ordered operation is a top-101 heap over the bounded
    per-user aggregate (the 101st value is x_min); log-ratios quantize
    to 1e-9 integers so the sum is order-free.  Companion to
    `events_concentration_gini` (which integrates the whole
    distribution; Hill characterizes the tail)."""
    t = load_tables(spark, sf_dir, ["events"])
    per_user = t["events"].groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    topk = (
        per_user.orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(101)
        .select("cnt")
    )
    xmin = topk.agg((F.min("cnt") * 1.0).alias("xm"))
    terms = (
        topk.join(F.broadcast(xmin))
        .select(
            F.round(F.log(F.col("cnt") / F.col("xm")) * 1e9)
            .cast("long")
            .alias("lr_q")
        )
        .orderBy(F.desc("lr_q"))
        .limit(100)
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("lr_q").cast("long").alias("sum_logratio_q"),
        # try_divide: a single-term tail has zero log-ratio mass -> NULL
        # alpha, matching the oracle's NULL on /0
        F.round(
            F.try_divide(F.count(F.lit(1)) * 1e9, F.sum("lr_q")), 4
        ).alias("hill_alpha"),
    )


@register(
    "monitor_value_drift_psi",
    oracle=f"""
    WITH ranges AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    split AS (
      SELECT CASE WHEN {_EPOCH} < (
               SELECT CAST(floor(date_part('epoch', min(ts))) AS BIGINT)
                 + ((SELECT CAST(floor(date_part('epoch', max(ts)))
                     AS BIGINT) FROM events)
                  - (SELECT CAST(floor(date_part('epoch', min(ts)))
                     AS BIGINT) FROM events)) // 2
               FROM events
             ) THEN 'ref' ELSE 'cur' END AS period,
             least(9, greatest(0, CAST(floor(
               (value - r.lo) / ((r.hi - r.lo) / 10.0)) AS INT))) AS b
      FROM events, ranges r
    ),
    cnt AS (
      SELECT period, b, count(*) AS n FROM split GROUP BY period, b
    ),
    tot AS (SELECT period, sum(n) * 1.0 AS t FROM cnt GROUP BY period),
    probs AS (
      SELECT b,
             sum(CASE WHEN c.period = 'ref' THEN (c.n + 1)
                 / (t1.t + 10.0) ELSE 0 END) AS p,
             sum(CASE WHEN c.period = 'cur' THEN (c.n + 1)
                 / (t1.t + 10.0) ELSE 0 END) AS q
      FROM cnt c JOIN tot t1 ON t1.period = c.period
      GROUP BY b
    ),
    terms AS (
      SELECT b,
             CAST(round((p - q) * ln(p / q) * 1e9) AS BIGINT) AS term_q
      FROM (
        SELECT b, CASE WHEN p = 0 THEN 1 / 1e9 ELSE p END AS p,
                  CASE WHEN q = 0 THEN 1 / 1e9 ELSE q END AS q
        FROM probs
      )
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(term_q) AS BIGINT) AS psi_q,
           round(sum(term_q) / 1e9, 6) AS psi
    FROM terms
    """,
    tags=("monitoring", "drift", "psi"),
)
def monitor_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream's value distribution — THE model-monitoring drift
    number (rule of thumb: PSI < 0.1 stable, > 0.25 investigate),
    complementing `monitor_value_drift_ks` (KS detects shape shifts;
    PSI weights by probability mass and is additive by bucket).

    Ten fixed buckets from the broadcast global range; both period
    histograms come from ONE aggregation (constant-size shuffle);
    add-one smoothing removes empty-bucket infinities; per-bucket terms
    quantize to 1e-9 integers so the sum is order-free and
    engine-identical."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"]
    # r11 (guide §1.2): value range and time midpoint in ONE scalar
    # aggregate (the two separate aggregates each cost a full events
    # pass); same four min/max values, same derived mid.
    glob = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    ).select(
        "lo",
        "hi",
        (F.col("t0") + F.floor((F.col("t1") - F.col("t0")) / 2)).alias("mid"),
    )
    # try_divide: a constant value column (hi == lo) bins everything to
    # bucket 0 instead of an ANSI /0 error (greatest skips the NULL)
    b = F.least(
        F.lit(9),
        F.greatest(
            F.lit(0),
            F.floor(
                F.try_divide(
                    F.col("value") - F.col("lo"),
                    (F.col("hi") - F.col("lo")) / 10.0,
                )
            ).cast("int"),
        ),
    )
    split = ev.join(F.broadcast(glob)).select(
        F.when(F.unix_timestamp("ts") < F.col("mid"), "ref")
        .otherwise("cur")
        .alias("period"),
        b.alias("b"),
    )
    cnt = split.groupBy("period", "b").agg(F.count(F.lit(1)).alias("n"))
    # per-period totals via a whole-partition window over the ≤20-row
    # histogram instead of a groupBy + re-join (which re-instantiated
    # the histogram lineage); same sums.
    cnt = cnt.withColumn(
        "t", F.sum("n").over(W.partitionBy("period")) * 1.0
    )
    probs = (
        cnt.groupBy("b")
        .agg(
            F.sum(
                F.when(
                    F.col("period") == "ref",
                    (F.col("n") + 1) / (F.col("t") + 10.0),
                ).otherwise(0.0)
            ).alias("p"),
            F.sum(
                F.when(
                    F.col("period") == "cur",
                    (F.col("n") + 1) / (F.col("t") + 10.0),
                ).otherwise(0.0)
            ).alias("q"),
        )
    )
    safe = probs.select(
        "b",
        F.when(F.col("p") == 0, 1 / 1e9).otherwise(F.col("p")).alias("p"),
        F.when(F.col("q") == 0, 1 / 1e9).otherwise(F.col("q")).alias("q"),
    )
    terms = safe.select(
        F.round(
            (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")) * 1e9
        )
        .cast("long")
        .alias("term_q")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("term_q").cast("long").alias("psi_q"),
        F.round(F.sum("term_q") / 1e9, 6).alias("psi"),
    )


@register(
    "orders_rolling_12m_revenue",
    oracle="""
    WITH m AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
             + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS mi,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    roll AS (
      SELECT cur.mi,
             sum(past.rev_cents) AS ltm_cents,
             count(*) AS n_months_present
      FROM m cur JOIN m past ON cur.mi - past.mi BETWEEN 0 AND 11
      GROUP BY cur.mi
    )
    SELECT CAST(mi // 12 AS BIGINT) AS year,
           CAST(mi % 12 + 1 AS BIGINT) AS month,
           CAST(ltm_cents AS BIGINT) AS ltm_cents,
           CAST(n_months_present AS BIGINT) AS n_months_present
    FROM roll
    """,
    tags=("business", "rolling", "ltm"),
)
def orders_rolling_12m_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-twelve-month (LTM) revenue per month — the smoothed
    top-line every finance dashboard leads with, computed WITHOUT a
    sequential window: the monthly rollup is bounded, so the trailing
    sum is a ≤12-fanout self-join on month index (the
    `events_ewma_hourly` scheme with unit weights).  Exact integer
    cents; months absent from the data drop out of both the sum and the
    presence count identically in any engine."""
    t = load_tables(spark, sf_dir, ["orders"])
    mi = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    m = t["orders"].groupBy(mi.alias("mi")).agg(
        F.sum(cents).alias("rev_cents")
    )
    cur = m.select(F.col("mi").alias("cur_mi"))
    past = m.select(F.col("mi").alias("past_mi"), "rev_cents")
    roll = (
        cur.join(
            past,
            (F.col("cur_mi") - F.col("past_mi")).between(0, 11),
        )
        .groupBy("cur_mi")
        .agg(
            F.sum("rev_cents").alias("ltm_cents"),
            F.count(F.lit(1)).alias("n_months_present"),
        )
    )
    return roll.select(
        F.floor(F.col("cur_mi") / 12).cast("long").alias("year"),
        (F.col("cur_mi") % 12 + 1).cast("long").alias("month"),
        F.col("ltm_cents").cast("long").alias("ltm_cents"),
        F.col("n_months_present").cast("long").alias("n_months_present"),
    )
