"""ML-adjacent analytics: neighbors, silhouettes,
retrieval, histograms, periodicity (q284 .. q322).

Shared helpers are in queries/common.py; queries/registry.py raises
on duplicate query names."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.functions.text import (
    lang_id,
    token_count,
    tokens,
)
from sensor_time_series_pyspark_spark.operators.sampling import (
    _threshold_hex as _thr,
)
from sensor_time_series_pyspark_spark.queries.common import (
    DEC,
    _REV_SQL,
    _davg,
    _davg_sql,
    _dsum,
    _revenue,
)
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table


def _q_mutual_knn(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual k-NN rate over the probe set (vec_id < 50, k = 3): the
    share of directed nearest-neighbor edges that are reciprocated —
    the embedding-space health gauge (hubness/anisotropy collapse
    shows up as low mutuality long before downstream metrics move).
    Reuses the brute-force cosine ranking of q23/q257; the mutual
    check is one self-join of the top-k edge list on reversed ids."""
    emb = read_table(spark, sf, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    ).where(F.col("vec_id") < 50)
    q = v.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("e"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(c, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = (
        F.broadcast(q)
        .join(v, F.col("qid") != F.col("vec_id"))
        .select(
            "qid",
            "vec_id",
            (dot / (norm(F.col("qe")) * norm(F.col("e")))).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    edges = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("qid", "vec_id")
    )
    rev = edges.select(
        F.col("vec_id").alias("qid"), F.col("qid").alias("vec_id")
    )
    mutual = edges.join(rev, ["qid", "vec_id"], "left_semi")
    tot = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    mut = mutual.agg(F.count(F.lit(1)).alias("n_mutual"))
    return tot.crossJoin(mut).select(
        "n_edges",
        "n_mutual",
        (
            F.col("n_mutual").cast("double") / F.col("n_edges").cast("double")
        ).alias("mutual_rate"),
    )


def _q_centroid_silhouette(spark: SparkSession, sf: str) -> DataFrame:
    """Centroid silhouette per label: mean over the label's vectors of
    (cosine to OWN centroid - best cosine to any OTHER centroid) —
    positive = separable cluster, <= 0 = label bleeds into another
    (the medoid-free silhouette that runs in one centroid pass + one
    broadcast join instead of O(n^2) pair distances). Centroids are
    order-free decimal sums (q157); per-vector cosines are sequential
    array folds; the final per-label mean uses the exact decimal-sum
    convention."""
    emb = read_table(spark, sf, "embeddings")
    comp = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    cent = comp.groupBy("label", "dim").agg(
        F.sum(F.col("v").cast("double").cast("decimal(20,8)")).alias("s")
    )
    cvecs = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("a"))
        .select(
            F.col("label").alias("clabel"),
            F.expr("transform(a, x -> cast(x.s as double))").alias("cvec"),
        )
    )
    pts = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("e"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(c, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = pts.crossJoin(F.broadcast(cvecs)).select(
        "vec_id",
        "label",
        "clabel",
        (dot / (norm(F.col("e")) * norm(F.col("cvec")))).alias("cos"),
    )
    own = cos.where(F.col("label") == F.col("clabel")).select(
        "vec_id", "label", F.col("cos").alias("own_cos")
    )
    other = (
        cos.where(F.col("label") != F.col("clabel"))
        .groupBy("vec_id")
        .agg(F.max("cos").alias("other_cos"))
    )
    per_vec = own.join(other, "vec_id")
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        _davg(F.col("own_cos") - F.col("other_cos")).alias("silhouette"),
    )


def _q_decayed_popularity(spark: SparkSession, sf: str) -> DataFrame:
    """Half-life-decayed popularity ranking per part: each sale
    contributes 2^(-floor(age_weeks)) — week-old sales count half.
    The decay weights are EXACT powers of two (integer exponent, so
    the double is exact and engine-identical; no pow/exp libm call),
    terms accumulate through the decimal-sum convention, and the
    integer age comes from date arithmetic. The freshness-aware
    leaderboard that plain lifetime counts (q85) cannot express."""
    li = read_table(spark, sf, "lineitem")
    horizon = li.agg(F.max("l_shipdate").alias("h"))
    j = li.crossJoin(F.broadcast(horizon))
    weeks = F.floor(
        F.datediff(F.col("h"), F.col("l_shipdate")) / F.lit(7)
    ).cast("int")
    w = F.pow(F.lit(2.0), (-weeks).cast("double"))
    scored = j.select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
        w.alias("w"),
    )
    per_part = scored.groupBy("l_partkey").agg(
        _dsum(F.col("q").cast("double") * F.col("w")).alias("decayed_qty"),
        F.count(F.lit(1)).cast("bigint").alias("n_sales"),
    )
    wtop = Window.orderBy(F.col("decayed_qty").desc(), F.col("l_partkey"))
    return (
        per_part.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= 20)
        .select(
            F.col("rk").cast("int").alias("rk"),
            "l_partkey",
            "decayed_qty",
            "n_sales",
        )
    )


def _q_anova_f(spark: SparkSession, sf: str) -> DataFrame:
    """One-way ANOVA F statistic for value across event types:
    SSB/(k-1) over SSW/(N-k), with the sums of squares built from
    per-group EXACT decimal moments (SSW = sum(x^2) - sum_g(S_g^2 /
    n_g), SSB = sum_g(S_g^2 / n_g) - S^2/N) — the between/within
    variance decomposition behind every "does the group matter"
    screen. Group moments stay decimal-exact; the epilogue divides in
    a fixed order. One aggregate over the fact, one over the 5-row
    group frame."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    xi = (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi.cast("decimal(38,0)")).alias("s"),
        F.sum((xi * xi).cast("decimal(38,0)")).alias("ss"),
    )
    # per-group S^2/n as double (fixed order), then exact-decimal-free
    # epilogue over the tiny k-row frame
    per = g.select(
        "event_type",
        "n",
        (
            F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n").cast("double")
        ).alias("s2n"),
        F.col("s").cast("double").alias("sd"),
        F.col("ss").cast("double").alias("ssd"),
    )
    tot = per.agg(
        F.sum("n").alias("N"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        _dsum(F.col("s2n")).alias("sum_s2n"),
        _dsum(F.col("sd")).alias("S"),
        _dsum(F.col("ssd")).alias("SS"),
    )
    ssb = F.col("sum_s2n") - F.col("S") * F.col("S") / F.col("N").cast(
        "double"
    )
    ssw = F.col("SS") - F.col("sum_s2n")
    fstat = (ssb / (F.col("k") - 1).cast("double")) / (
        ssw / (F.col("N") - F.col("k")).cast("double")
    )
    return tot.select(
        F.col("N").cast("bigint").alias("n_rows"),
        F.col("k").alias("n_groups"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        fstat.alias("f_stat"),
    )


def _q_retrieval_scoring(spark: SparkSession, sf: str) -> DataFrame:
    """Log-free BM25-style retrieval: top-10 documents for the query
    {spark, table, join} ranked by sum over query terms of
    odds-idf * saturated-tf, where odds-idf = (N - df + 0.5)/(df +
    0.5) (the argument of BM25's log — monotone per term, libm-free)
    and saturated-tf = tf*(k1+1) / (tf + k1*(1 - b + b*len/avglen)),
    k1 = 1.2, b = 0.75. Exact integer tf/df/len; the per-term epilogue
    is a fixed IEEE sequence and the 3-term sum accumulates through
    decimal. One explode + two broadcast-sized joins; the corpus is
    scanned once."""
    docs = read_table(spark, sf, "documents")
    qterms = spark.createDataFrame(
        [("spark",), ("table",), ("join",)], ["qt"]
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    lens = docs.select(
        "doc_id", token_count("text").cast("bigint").alias("len")
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("N"), F.sum("len").alias("total_len")
    )
    tf = (
        tok.join(F.broadcast(qterms), tok["t"] == qterms["qt"])
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    j = (
        tf.join(F.broadcast(df_), "t")
        .join(F.broadcast(lens), "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    avglen = F.col("total_len").cast("double") / F.col("N").cast("double")
    idf = (F.col("N").cast("double") - F.col("df").cast("double") + 0.5) / (
        F.col("df").cast("double") + 0.5
    )
    sat = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * F.col("len").cast("double") / avglen)
    )
    terms = j.select("doc_id", (idf * sat).alias("term_score"))
    scored = terms.groupBy("doc_id").agg(
        _dsum(F.col("term_score")).alias("score"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
    )
    wtop = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= 10)
        .select(
            F.col("rk").cast("int").alias("rk"),
            "doc_id",
            "score",
            "n_terms_hit",
        )
    )


def _q_hoover_index(spark: SparkSession, sf: str) -> DataFrame:
    """Hoover (Robin Hood) index of revenue concentration across
    customers: half the sum of |share_i - 1/n| — "what fraction of
    revenue would have to move to equalize everyone", the log-free
    inequality measure that complements q150's Gini (Gini weights by
    rank, Hoover by absolute displacement). Revenue sums stay decimal-
    exact; each |share - 1/n| is a fixed 3-op double epilogue and the
    final sum accumulates through decimal."""
    o = read_table(spark, sf, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("rev")
    )
    tot = per_cust.agg(
        F.sum("rev").alias("T"), F.count(F.lit(1)).alias("n")
    )
    j = per_cust.crossJoin(F.broadcast(tot))
    dev = F.abs(
        F.col("rev").cast("double") / F.col("T").cast("double")
        - F.lit(1.0) / F.col("n").cast("double")
    )
    return j.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        (_dsum(dev) / F.lit(2.0)).alias("hoover"),
    )


def _q_freshness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table freshness/staleness dashboard: per fact table, the
    newest event-time watermark, row count, and days of history — the
    one-glance "is ingestion alive" audit every warehouse runs. One
    tiny aggregate per table unioned (each scan prunes to its time
    column only)."""
    ev = read_table(spark, sf, "events").agg(
        F.lit("events").alias("table_name"),
        F.max(F.col("ts").cast("date")).alias("max_day"),
        F.min(F.col("ts").cast("date")).alias("min_day"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    o = read_table(spark, sf, "orders").agg(
        F.lit("orders").alias("table_name"),
        F.max(F.col("o_orderdate").cast("date")).alias("max_day"),
        F.min(F.col("o_orderdate").cast("date")).alias("min_day"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    li = read_table(spark, sf, "lineitem").agg(
        F.lit("lineitem").alias("table_name"),
        F.max(F.col("l_shipdate").cast("date")).alias("max_day"),
        F.min(F.col("l_shipdate").cast("date")).alias("min_day"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    u = ev.unionByName(o).unionByName(li)
    return u.select(
        "table_name",
        "max_day",
        "min_day",
        (F.datediff(F.col("max_day"), F.col("min_day")) + 1)
        .cast("int")
        .alias("span_days"),
        "n_rows",
    )


def _q_skyline_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline (Pareto-optimal) parts on (retail price LOW, size
    HIGH): parts no other part dominates on both dimensions — the
    classic multi-objective shortlist operator (SQL:2023's
    conceptual SKYLINE). Implemented as the O(n log n) SWEEP, not a
    pair join: per-price max size, running max over strictly cheaper
    prices (a lag of the cumulative max over the price-sorted
    aggregate), then a row is dominated iff a strictly cheaper price
    reached >= its size, or its own price group holds a strictly
    larger size. One aggregate + one tiny-frame window — no
    nested-loop join at any scale. The DuckDB oracle keeps the
    NOT-EXISTS definition, so the sweep is verified against the
    textbook semantics."""
    p = read_table(spark, sf, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    grp = p.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    wprice = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grp.select(
        "p_retailprice", "gmax", F.max("gmax").over(wprice).alias("cummax")
    )
    runmax = cum.select(
        "p_retailprice",
        "gmax",
        F.lag("cummax").over(Window.orderBy("p_retailprice")).alias(
            "strict_max"
        ),
    )
    j = p.join(F.broadcast(runmax), "p_retailprice")
    sky = j.where(
        (
            F.col("strict_max").isNull()
            | (F.col("strict_max") < F.col("p_size"))
        )
        & (F.col("gmax") <= F.col("p_size"))
    )
    return sky.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("int").alias("size"),
    )


def _q_seasonal_index(spark: SparkSession, sf: str) -> DataFrame:
    """Classical multiplicative seasonal indices (ratio-to-moving-
    average, the X-11 first step): daily count over its centered 7-day
    moving average, averaged per day-of-week — the SQL-native
    counterpart of q26's additive applyInPandas decomposition.
    Centered MA requires a full +/-3-day window (edges excluded);
    integer sums, ratio and the per-dow mean via the decimal-sum
    convention."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    wc = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    k = F.count(F.lit(1)).over(wc)
    ma = F.sum("n").over(wc).cast("double") / k.cast("double")
    ratios = daily.select(
        "event_type",
        F.dayofweek("d").alias("dow"),
        F.when(k == 7, F.col("n").cast("double") / ma).alias("ratio"),
    ).where(F.col("ratio").isNotNull())
    return ratios.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        _davg(F.col("ratio")).alias("seasonal_index"),
    )


def _q_abc_xyz(spark: SparkSession, sf: str) -> DataFrame:
    """ABC-XYZ inventory segmentation: q244's revenue-Pareto ABC
    classes crossed with demand-variability XYZ classes (coefficient
    of variation of weekly quantity: X < 0.5 steady, Y < 1.0, Z
    erratic) — the 9-cell planning matrix. CV from exact integer
    weekly moments (n*S2 - S1^2); the class-cell aggregate rides the
    same per-part frame as the Pareto window."""
    li = read_table(spark, sf, "lineitem")
    rev = li.groupBy("l_partkey").agg(F.sum(_revenue()).alias("__rev"))
    wcum = Window.orderBy(F.col("__rev").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    share = (
        F.sum("__rev").over(wcum).cast("double")
        / F.sum("__rev").over(wall).cast("double")
    )
    abc = rev.select(
        "l_partkey",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc"
        ),
    )
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", F.col("l_shipdate")).alias("w")
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)") * 100).cast(
        "decimal(38,0)"
    ).alias("q"))
    mom = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("q").alias("s1"),
        F.sum(
            (F.col("q") * F.col("q")).cast("decimal(38,0)")
        ).alias("s2"),
    )
    nd = F.col("k").cast("decimal(12,0)")
    var_num = (nd * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    cv = (F.sqrt(var_num) / F.col("k").cast("double")) / (
        F.col("s1").cast("double") / F.col("k").cast("double")
    )
    xyz = mom.select(
        "l_partkey",
        F.when(F.col("k") < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    cells = abc.join(xyz, "l_partkey").groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    return cells


def _q_term_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Church-Gale term burstiness: collection frequency over document
    frequency per term — cf/df = 1 means a term never repeats within
    a doc (function-word behavior), high values flag topical/bursty
    terms (content words, spam runs). One explode feeds both counts;
    integer ratio, top-20 by (burstiness desc, term) with cf >= 10."""
    docs = read_table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    stats = tok.groupBy("t").agg(
        F.count(F.lit(1)).alias("cf"),
        F.count_distinct("doc_id").alias("df"),
    ).where(F.col("cf") >= 10)
    burst = stats.select(
        F.col("t").alias("term"),
        "cf",
        "df",
        (F.col("cf").cast("double") / F.col("df").cast("double")).alias(
            "burstiness"
        ),
    )
    wtop = Window.orderBy(F.col("burstiness").desc(), F.col("term"))
    return (
        burst.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= 20)
        .select(F.col("rk").cast("int").alias("rk"), "term", "cf", "df", "burstiness")
    )


def _q_join_size_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Join-cardinality estimation BEFORE the join: |A join B on k| =
    sum over keys of cA(k)*cB(k), computed from the two key-frequency
    frames — the explosion audit that decides salting/broadcast
    strategy (q217's skew advisor generalized to output size). The
    query also runs the real join count so the estimate's exactness
    is verified in-row (they must be equal for an equi-join — the
    'estimate' is exact; the point is it costs two aggregates instead
    of the join)."""
    o = read_table(spark, sf, "orders")
    li = read_table(spark, sf, "lineitem")
    ca = o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("cnt_a"))
    cb = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt_b"))
    est = (
        ca.join(cb, ca["o_orderkey"] == cb["l_orderkey"])
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("est_rows"))
    )
    actual = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    return est.crossJoin(actual).select(
        "est_rows",
        "actual_rows",
        (F.col("est_rows") == F.col("actual_rows")).alias("exact"),
    )


def _q_rare_collapse(spark: SparkSession, sf: str) -> DataFrame:
    """Rare-category collapse: (event_type, json k-prop) crossed
    categories with support < 25 fold into '__other__' — the
    cardinality-control encoder every feature table applies before
    one-hot/target encoding (unbounded tails blow up model width and
    leak singletons). Two hash aggregates; the support map is
    broadcast-sized."""
    ev = read_table(spark, sf, "events")
    cat = F.concat_ws(
        "|", F.col("event_type"), F.get_json_object(F.col("props"), "$.k")
    )
    counts = ev.select(cat.alias("cat")).groupBy("cat").agg(
        F.count(F.lit(1)).alias("n")
    )
    folded = counts.select(
        F.when(F.col("n") >= 25, F.col("cat"))
        .otherwise("__other__")
        .alias("category"),
        "n",
    )
    return folded.groupBy("category").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_source_cats"),
    )


def _q_loo_target_encoding(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out target encoding: each event's type encoded as the
    mean target (value) of its OWN group excluding the row itself —
    (S_g - x_i)/(n_g - 1), the leakage-safe categorical encoder.
    Group sums stay decimal-exact (one aggregate, broadcast back);
    the per-row epilogue is one subtraction and one division.
    Emitted per-row (event_id) so the oracle verifies every encoding,
    not just aggregates."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    xi = F.col("value").cast("decimal(18,2)")
    g = ev.groupBy("event_type").agg(
        F.sum(xi.cast(DEC)).alias("sg"),
        F.count(F.lit(1)).alias("ng"),
    )
    j = ev.join(F.broadcast(g), "event_type")
    enc = (F.col("sg") - xi.cast(DEC)).cast("double") / (
        F.col("ng") - 1
    ).cast("double")
    return j.select(
        "event_id",
        "event_type",
        enc.alias("loo_encoding"),
    )


def _q_feature_hashing(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick feature encoder with collision audit: the crossed
    feature (event_type x day-of-week) maps to one of 256 buckets via
    its md5 2-hex-char prefix (engine-portable, no numeric hex
    conversion) — the fixed-width encoder for unbounded crosses.
    Output one row per occupied bucket: row mass and how many distinct
    source crosses collided into it (the audit that picks the hash
    width)."""
    ev = read_table(spark, sf, "events")
    crossed = F.concat_ws(
        "|", F.col("event_type"), F.dayofweek("ts").cast("string")
    )
    b = ev.select(
        crossed.alias("crossed"),
        F.substring(F.md5(F.concat(F.lit("fh1"), crossed)), 1, 2).alias(
            "bucket"
        ),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("crossed").cast("bigint").alias("n_crosses"),
    )


def _q_m_estimate_encoding(spark: SparkSession, sf: str) -> DataFrame:
    """m-estimate (shrinkage) target encoding per event type:
    (S_g + m * mu) / (n_g + m) with m = 20 — the empirical-Bayes
    smoother that pulls small categories toward the global mean
    (the companion to q297's leave-one-out; this one is the
    per-CATEGORY table). Group and global sums decimal-exact; mu and
    the encoding are fixed-order double epilogues."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    xi = F.col("value").cast("decimal(18,2)")
    g = ev.groupBy("event_type").agg(
        F.sum(xi.cast(DEC)).alias("sg"),
        F.count(F.lit(1)).alias("ng"),
    )
    tot = ev.agg(
        F.sum(xi.cast(DEC)).alias("st"), F.count(F.lit(1)).alias("nt")
    )
    j = g.crossJoin(F.broadcast(tot))
    mu = F.col("st").cast("double") / F.col("nt").cast("double")
    enc = (F.col("sg").cast("double") + F.lit(20.0) * mu) / (
        F.col("ng").cast("double") + F.lit(20.0)
    )
    raw = F.col("sg").cast("double") / F.col("ng").cast("double")
    return j.select(
        "event_type",
        F.col("ng").cast("bigint").alias("n"),
        raw.alias("raw_mean"),
        enc.alias("m_encoding"),
    )


def _q_window_dataset(spark: SparkSession, sf: str) -> DataFrame:
    """Supervised window-dataset builder: per series, the trailing-7
    daily counts as the feature vector and the NEXT day as the label —
    the (X, y) constructor every sequence model trains on (q10's
    lead-as-label generalized to a window of features). collect_list
    over an ORDERED row frame is deterministic; features serialize to
    a CSV string so the differential hash covers every element. Rows
    without a full window or a label are excluded — no padded
    leakage."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("event_type").orderBy("d")
    wf = wt.rowsBetween(-6, 0)
    feat = F.collect_list(F.col("n").cast("string")).over(wf)
    built = daily.select(
        "event_type",
        "d",
        F.when(F.count(F.lit(1)).over(wf) == 7, F.array_join(feat, ",")).alias(
            "features_csv"
        ),
        F.lead("n").over(wt).alias("label"),
    )
    return built.where(
        F.col("features_csv").isNotNull() & F.col("label").isNotNull()
    )


def _q_multihot_encoding(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-hot behavioral encoding: each user's event-type SET packed
    into one integer bitmask via bit_or(1 << type_index) — the
    fixed-width set encoder (feeds GBDTs, joins cheaply, and the
    bitmask aggregate is a map-side-combining one-pass reduction
    where collect_set is not). Also reports popcount (n_types) and
    the decoded membership flags so the mask is auditable."""
    ev = read_table(spark, sf, "events")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .when(F.col("event_type") == "view", 16)
        .otherwise(32)
    )
    masked = ev.select("user_id", bit.cast("bigint").alias("bit"))
    per_user = masked.groupBy("user_id").agg(
        F.expr("bit_or(bit)").alias("mask")
    )
    return per_user.select(
        "user_id",
        "mask",
        F.bit_count("mask").cast("int").alias("n_types"),
        (F.col("mask").bitwiseAND(4) > 0).alias("has_purchase"),
        (F.col("mask").bitwiseAND(2) > 0).alias("has_error"),
    )


def _q_clustering_coeff(spark: SparkSession, sf: str) -> DataFrame:
    """Global clustering coefficient of the user co-engagement graph
    (users linked when active on the same event_type x day): C =
    3 * triangles / open_triads, with triads = sum over nodes of
    deg*(deg-1)/2 — the one-number transitivity summary on top of
    q100's triangle count. Triangle counting uses the same
    degree-oriented compact-forward shape (each triangle counted
    once); everything is integer until the final division."""
    ev = read_table(spark, sf, "events")
    grp = ev.select(
        "user_id",
        F.concat_ws(
            "|", "event_type", F.date_trunc("day", F.col("ts")).cast("string")
        ).alias("g"),
    ).distinct()
    a = grp.select(F.col("g"), F.col("user_id").alias("u"))
    b = grp.select(F.col("g").alias("g2"), F.col("user_id").alias("v"))
    edges = (
        a.join(b, (F.col("g") == F.col("g2")) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
    )
    # the co-engagement edge set is the expensive frame here (group
    # self-join + distinct) and it feeds BOTH the triad degree sum and
    # the triangle count — materialize it once instead of re-running
    # the self-join per consumer (guide §5; it was re-computed 4x:
    # deg + both wedge sides + the closing semi-join)
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    triads = deg.agg(
        F.expr("sum((d * (d - 1)) div 2)").cast("bigint").alias("triads")
    )
    # degree-oriented compact-forward triangle count (operators/
    # graph.py:triangle_count): id-orientation let co-engagement hubs
    # (one user in a dense day-group) fan the wedge join out
    # quadratically; (degree, id) orientation caps per-node wedge
    # fan-out at O(sqrt(m)) — the count itself is orientation-invariant
    # so the oracle is untouched.
    from sensor_time_series_pyspark_spark.operators import triangle_count

    tri = triangle_count(edges, src_col="u", dst_col="v", orient="degree").select(
        F.col("n_triangles").alias("triangles")
    )
    j = tri.crossJoin(triads)
    return j.select(
        "triangles",
        "triads",
        (
            F.lit(3.0) * F.col("triangles").cast("double")
            / F.col("triads").cast("double")
        ).alias("clustering_coeff"),
    )


def _q_value_at_risk(spark: SparkSession, sf: str) -> DataFrame:
    """Historical one-day Value-at-Risk of daily revenue: the p5/p1
    exact percentiles of day-over-day revenue CHANGES — "how bad is a
    normal bad day", the finance risk summary repurposed for any KPI.
    Daily revenue stays decimal-exact; deltas are one double
    subtraction per day (ordered lag); percentiles interpolate over
    the tiny day frame identically in both engines."""
    o = read_table(spark, sf, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("rev")
    )
    wt = Window.orderBy("d")
    deltas = daily.select(
        (F.col("rev") - F.lag("rev").over(wt)).alias("chg")
    ).where(F.col("chg").isNotNull())
    return deltas.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.percentile("chg", F.lit(0.05)).alias("var_95"),
        F.percentile("chg", F.lit(0.01)).alias("var_99"),
        F.min("chg").alias("worst_day"),
    )


def _q_partition_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Write-layout skew audit: rows per (ship-date day) partition with
    the max/mean ratio and coefficient of variation — the pre-write
    diagnostic that decides whether a date-partitioned sink needs
    salting or coarser grain (q217's join-key advisor pointed at
    physical layout). Integer moments, fixed epilogue."""
    li = read_table(spark, sf, "lineitem")
    per = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
        F.max("n").alias("mx"),
    )
    mean = F.col("s1").cast("double") / F.col("k").cast("double")
    std = F.sqrt(
        (F.col("k") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    ) / F.col("k").cast("double")
    return agg.select(
        F.col("k").cast("bigint").alias("n_partitions"),
        F.col("mx").alias("max_rows"),
        mean.alias("mean_rows"),
        (F.col("mx").cast("double") / mean).alias("max_over_mean"),
        (std / mean).alias("cv"),
    )


def _q_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang x heuristic lang_id
    prediction counts with per-truth-row recall — the classifier
    evaluation grid that turns q31's per-doc predictions into the
    audit a curation pipeline actually reviews. One aggregate over
    the prediction frame; recall is one division against a window
    sum."""
    docs = read_table(spark, sf, "documents")
    pred = docs.select("lang", lang_id("text").alias("pred"))
    cells = pred.groupBy("lang", "pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    wl = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "pred",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wl).cast("double")).alias(
            "row_share"
        ),
    )


def _q_detector_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Self-validating detector benchmark: deterministically inject
    anomalies (md5-chosen ~20% of (type, day) cells get a +60% count
    boost), run the trailing-average spike detector on the MODIFIED
    series, and score it against the known injection set — precision /
    recall / F1 per event type, the evaluation harness that turns
    "we have detectors" into "we know their operating point". The
    injection is hash-seeded so both engines agree on ground truth."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    injected = (
        F.substring(
            F.md5(
                F.concat(
                    F.lit("inj"),
                    F.col("event_type"),
                    F.col("d").cast("date").cast("string"),
                )
            ),
            1,
            8,
        )
        < _thr(0.2)
    )
    boosted = daily.select(
        "event_type",
        "d",
        injected.alias("is_injected"),
        F.when(injected, (F.col("n") * 16) / 10)
        .otherwise(F.col("n").cast("double"))
        .alias("nb"),
    )
    wt = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    trailing = F.sum("nb").over(wt) / F.count(F.lit(1)).over(wt)
    scored = boosted.withColumn(
        "flagged",
        F.when(
            trailing.isNotNull() & (F.col("nb") > F.lit(1.3) * trailing), 1
        ).otherwise(0),
    )
    per_type = scored.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_injected") & (F.col("flagged") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(~F.col("is_injected") & (F.col("flagged") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(F.col("is_injected") & (F.col("flagged") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
    )
    return per_type.select(
        "event_type",
        "tp",
        "fp",
        "fn",
        prec.alias("precision"),
        rec.alias("recall"),
    )


def _q_srm_check(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the hash split: observed
    train/val/test user counts vs the designed 80/10/10, scored by the
    chi-square statistic Σ(obs-exp)²/exp — the first thing any
    experimentation platform checks before trusting a split (a biased
    hash or filtered population shows up here, not in the metrics).
    Counts integer; expectations and the statistic are a fixed double
    epilogue; the 3-row split frame carries the report."""
    from sensor_time_series_pyspark_spark.operators import hash_split

    ev = read_table(spark, sf, "events")
    users = ev.select("user_id").distinct()
    out = hash_split(
        users, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1"
    )
    counts = out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("nt"))
    j = counts.crossJoin(F.broadcast(tot))
    expected = (
        F.when(F.col("split") == "train", 0.8)
        .otherwise(0.1)
        * F.col("nt").cast("double")
    )
    chi = (F.col("n").cast("double") - expected) * (
        F.col("n").cast("double") - expected
    ) / expected
    per_split = j.select("split", "n", expected.alias("expected"), chi.alias("chi2_term"))
    return per_split.select(
        "split",
        "n",
        "expected",
        "chi2_term",
    )


def _q_temporal_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal referential-integrity audit across the order lifecycle:
    lineitems shipped BEFORE their order date (causality violation)
    and shipped more than 90 days after (SLA/staleness anomaly) —
    the cross-table temporal checks a validation suite runs beyond
    single-column ranges (q51) and key orphans (q218). One
    broadcast-joined scan, one conditional aggregate."""
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    gap = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    viol = F.sum(F.when(gap < 0, 1).otherwise(0)).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol.alias("ship_before_order"),
        F.sum(F.when(gap > 90, 1).otherwise(0)).cast("bigint").alias(
            "ship_after_90d"
        ),
        F.max(gap).cast("int").alias("max_gap_days"),
        F.min(gap).cast("int").alias("min_gap_days"),
    )


def _q_mix_shift(spark: SparkSession, sf: str) -> DataFrame:
    """Composition mix-shift monitor: each month's order-priority
    share vs the all-time share, summarized per month by total
    variation distance (half the L1 gap) — the "did the traffic mix
    change" screen that catches silent upstream re-weighting before
    any volume alarm fires. Integer counts; shares and the TVD sum
    accumulate through the decimal convention."""
    o = read_table(spark, sf, "orders")
    mp = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n"))
    wm = Window.partitionBy("m")
    overall = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("no")
    )
    wall = Window.partitionBy()
    ref = overall.select(
        "o_orderpriority",
        (
            F.col("no").cast("double") / F.sum("no").over(wall).cast("double")
        ).alias("ref_share"),
    )
    cells = mp.select(
        "m",
        "o_orderpriority",
        (F.col("n").cast("double") / F.sum("n").over(wm).cast("double")).alias(
            "share"
        ),
    ).join(F.broadcast(ref), "o_orderpriority")
    return cells.groupBy("m").agg(
        (_dsum(F.abs(F.col("share") - F.col("ref_share"))) / F.lit(2.0)).alias(
            "tvd"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_priorities"),
    )


def _q_ljung_box(spark: SparkSession, sf: str) -> DataFrame:
    """Ljung-Box portmanteau statistic per event type: Q = N(N+2)
    sum_k r_k^2/(N-k) over lags 1-5 — "is there ANY autocorrelation
    left", the residual-whiteness gate after a forecast fit. Reuses
    the exact-moment ACF (q82's operator, decimal moments, fixed
    epilogue); the final sum over the 5-lag frame accumulates through
    decimal; N is the series length."""
    from sensor_time_series_pyspark_spark.operators import acf

    ev = read_table(spark, sf, "events")
    r = acf(ev, ["event_type"], "ts", "value", max_lag=5)
    ns = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("len"))
    j = r.join(F.broadcast(ns), "event_type").where(F.col("acf").isNotNull())
    term = (F.col("acf") * F.col("acf")) / (
        F.col("len") - F.col("lag")
    ).cast("double")
    per = j.groupBy("event_type").agg(
        F.max("len").alias("len"),
        _dsum(term).alias("ssum"),
        F.count(F.lit(1)).cast("bigint").alias("n_lags"),
    )
    q = (
        F.col("len").cast("double")
        * (F.col("len") + 2).cast("double")
        * F.col("ssum")
    )
    return per.select(
        "event_type",
        F.col("len").cast("bigint").alias("n_obs"),
        "n_lags",
        q.alias("ljung_box_q"),
    )


def _q_fd_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs of
    orders: A -> B holds iff countDistinct(A) == countDistinct(A, B)
    — the schema-inference primitive behind normalization advice and
    join-key validation (profiling family, one distinct-aggregate per
    pair over the same scan). Reports both counts and the verdict per
    candidate pair."""
    o = read_table(spark, sf, "orders")
    pairs = [
        ("o_orderkey", "o_custkey"),
        ("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderdate", "o_orderstatus"),
    ]
    aggs = []
    for a, b in pairs:
        aggs.append(F.count_distinct(F.col(a)).alias(f"__l_{a}_{b}"))
        aggs.append(
            F.count_distinct(F.col(a), F.col(b)).alias(f"__p_{a}_{b}")
        )
    wide = o.agg(*aggs)
    rows = []
    for a, b in pairs:
        rows.append(
            F.struct(
                F.lit(a).alias("lhs"),
                F.lit(b).alias("rhs"),
                F.col(f"__l_{a}_{b}").alias("n_lhs"),
                F.col(f"__p_{a}_{b}").alias("n_pair"),
                (F.col(f"__l_{a}_{b}") == F.col(f"__p_{a}_{b}")).alias(
                    "is_fd"
                ),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("s")).select(
        "s.lhs", "s.rhs", "s.n_lhs", "s.n_pair", "s.is_fd"
    )


def _q_order_inversions(spark: SparkSession, sf: str) -> DataFrame:
    """Clock-skew detector: per user, the count of event pairs whose
    event_id order disagrees with their timestamp order (Kendall-tau
    distance between the two orderings) — nonzero inversions flag
    out-of-order ingestion or device clock drift. The pair join is
    per-user over the (id, ts) projection; PURE INTEGER counts. At
    scale the same check runs per (user, day) shard — the pair frame
    stays bounded by the shard size."""
    ev = read_table(spark, sf, "events")
    a = ev.select(
        "user_id", F.col("event_id").alias("ia"), F.col("ts").alias("ta")
    )
    b = ev.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("ib"),
        F.col("ts").alias("tb"),
    )
    pairs = a.join(
        b, (F.col("user_id") == F.col("u2")) & (F.col("ia") < F.col("ib"))
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("ta") > F.col("tb"), 1).otherwise(0))
        .cast("bigint")
        .alias("inversions"),
        (
            F.sum(F.when(F.col("ta") > F.col("tb"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("inversion_rate"),
    )


def _q_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """One-row corpus datasheet: the dataset-card numbers every
    release ships — doc/token/char totals, vocabulary size, language
    count, exact-duplicate rate, and mean doc length — assembled from
    ONE token explode plus one doc-level aggregate (the same
    reductions q17/q22/q250 use, composed into the release artifact).
    Integer counts; two fixed final divisions."""
    docs = read_table(spark, sf, "documents")
    per_doc = docs.select(
        "doc_id",
        "lang",
        token_count("text").alias("nt"),
        F.length("text").alias("nc"),
        F.md5(F.col("text")).alias("h"),
    )
    tok = docs.select(F.explode(tokens("text")).alias("t"))
    vocab = tok.agg(F.count_distinct("t").alias("vocab"))
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
        F.sum("nc").cast("bigint").alias("n_chars"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.count_distinct("h").alias("n_unique_texts"),
    )
    j = agg.crossJoin(F.broadcast(vocab))
    return j.select(
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_langs",
        "vocab",
        (
            (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("exact_dup_rate"),
        (F.col("n_tokens").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean_doc_tokens"
        ),
    )


def _q_zonemap_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-map (min-max statistics) skipping audit: per ship-day
    partition, the min/max of l_extendedprice, and for a
    price > 45000 predicate the count/fraction of partitions whose
    max proves them skippable — the data-skipping effectiveness
    report that decides whether a sort/Z-order rewrite pays for
    itself (sources/maintenance.py:write_zordered is the rewrite;
    this measures the win). One aggregate builds the zone maps; the
    verdict is a map-side flag over the tiny partition frame."""
    li = read_table(spark, sf, "lineitem")
    zones = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.min("l_extendedprice").alias("zmin"),
        F.max("l_extendedprice").alias("zmax"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    skippable = F.when(F.col("zmax") <= 45000.0, 1).otherwise(0)
    return zones.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
        F.sum(skippable).cast("bigint").alias("n_skippable"),
        (
            F.sum(skippable).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("skip_fraction"),
        F.sum(F.when(skippable == 1, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_skipped"),
    )


def _q_gains_table(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative gains / decile lift table for the activity-predicts-
    conversion score of q200: users ranked by activity (desc,
    user_id tiebreak) into 10 equal-count bins; per decile the
    conversion count, cumulative capture rate, and lift over the base
    rate — the campaign-targeting companion to AUC (one number) that
    shows WHERE the ranking earns its keep. ntile over the bounded
    user frame; integer counts, fixed-order divisions."""
    ev = read_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    wrank = Window.orderBy(F.col("activity").desc(), F.col("user_id"))
    binned = per_user.withColumn("decile", F.ntile(10).over(wrank))
    per_dec = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_conv"),
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot_conv = F.sum("n_conv").over(wall)
    tot_users = F.sum("n_users").over(wall)
    base_rate = tot_conv.cast("double") / tot_users.cast("double")
    return per_dec.select(
        F.col("decile").cast("int").alias("decile"),
        "n_users",
        F.col("n_conv").cast("bigint").alias("n_conv"),
        (F.sum("n_conv").over(wcum).cast("double") / tot_conv.cast("double")).alias(
            "cum_capture"
        ),
        (
            (F.col("n_conv").cast("double") / F.col("n_users").cast("double"))
            / base_rate
        ).alias("lift"),
    )


def _q_delta_method(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-method standard error for the ratio metric value-per-
    event, computed per event type over user-level (X_u = value sum,
    Y_u = event count) pairs: var(X/Y) ~ (mx/my)^2 (vx/mx^2 + vy/my^2
    - 2 cxy/(mx my)) / n — the experimentation-platform machinery for
    ratio KPIs, where naive per-row variance is simply wrong. All
    five moments (and the cross term) accumulate as exact decimals;
    the epilogue is one fixed IEEE sequence."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    xi = (F.col("x") * 100).cast("decimal(19,0)")
    yi = F.col("y").cast("decimal(19,0)")
    d38 = "decimal(38,0)"
    s = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi.cast(d38)).alias("sx"),
        F.sum(yi.cast(d38)).alias("sy"),
        F.sum((xi * xi).cast(d38)).alias("sxx"),
        F.sum((yi * yi).cast(d38)).alias("syy"),
        F.sum((xi * yi).cast(d38)).alias("sxy"),
    )
    nd = F.col("n").cast("decimal(12,0)")
    nD = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nD
    my = F.col("sy").cast("double") / nD
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double") / (
        nD * nD
    )
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double") / (
        nD * nD
    )
    cxy = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        nD * nD
    )
    ratio = mx / my
    rel_var = vx / (mx * mx) + vy / (my * my) - F.lit(2.0) * cxy / (mx * my)
    se = F.sqrt((ratio * ratio) * rel_var / nD)
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_users"),
        # scaled x100: ratio reported in original units by one division
        (ratio / F.lit(100.0)).alias("ratio"),
        (se / F.lit(100.0)).alias("se_delta"),
    )


def _q_winsorized_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorized mean of value per event type: observations clamped
    to the exact [p5, p95] percentiles before averaging — the robust
    location estimate that keeps every row (unlike trimming) while
    bounding tail influence. Percentiles interpolate over the same
    sorted doubles in both engines (q60 guarantee); the clamped mean
    uses the decimal-sum convention."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p5"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    clamped = F.least(F.greatest(F.col("value"), F.col("p5")), F.col("p95"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _davg(F.col("value")).alias("raw_mean"),
        _davg(clamped).alias("winsorized_mean"),
    )


def _q_tail_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Tail attribution: which event types drive the global p99 of
    value — rows above the exact 99th percentile counted and
    mass-weighted per type, with each type's share of the tail vs its
    share of the body — the "who owns the tail latency" question
    asked of any SLO. One exact percentile over the fact, one
    broadcast threshold, one conditional aggregate."""
    ev = read_table(spark, sf, "events").where(F.col("value").isNotNull())
    thr = ev.agg(F.percentile("value", F.lit(0.99)).alias("p99"))
    j = ev.crossJoin(F.broadcast(thr))
    tail = F.when(F.col("value") > F.col("p99"), 1).otherwise(0)
    per_type = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(tail).cast("bigint").alias("n_tail"),
        F.max("p99").alias("p99"),
    )
    wall = Window.partitionBy()
    return per_type.select(
        "event_type",
        "n",
        "n_tail",
        "p99",
        (
            F.col("n_tail").cast("double")
            / F.sum("n_tail").over(wall).cast("double")
        ).alias("tail_share"),
        (F.col("n").cast("double") / F.sum("n").over(wall).cast("double")).alias(
            "body_share"
        ),
    )


def _q_log2_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """HDR-style log2 histogram of interarrival gaps per event type:
    bucket = floor(log2(gap_seconds)), computed EXACTLY as the length
    of the integer's binary representation minus one (no libm log2 —
    boundary values like 4096 land in the right bucket on every
    engine). The constant-relative-error latency histogram that
    fixed-width bins (q76) can't provide across 6 decades. Gaps of 0
    land in bucket 0; one window lag + one hash aggregate."""
    ev = read_table(spark, sf, "events")
    wlag = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    g = (
        F.col("ts").cast("long")
        - F.lag(F.col("ts").cast("long")).over(wlag)
    )
    gaps = ev.select("event_type", g.alias("g")).where(
        F.col("g").isNotNull()
    )
    bucket = F.when(F.col("g") <= 0, 0).otherwise(
        F.length(F.bin(F.col("g"))) - 1
    )
    return gaps.groupBy(
        "event_type", bucket.cast("int").alias("log2_bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


def _q_periodicity_detector(spark: SparkSession, sf: str) -> DataFrame:
    """Scheduled-job / cron-bot detector: each user's MODAL
    interarrival gap (rounded to the minute) and the share of gaps
    hitting it — humans spread across gaps, schedulers concentrate
    (share near 1 at a fixed period). Integer minute gaps, one
    aggregate to (user, gap) counts, one deterministic-tiebreak
    row_number over that tiny frame. Users with < 5 gaps excluded."""
    ev = read_table(spark, sf, "events")
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        F.col("ts").cast("long")
        - F.lag(F.col("ts").cast("long")).over(wlag)
    )
    gaps = ev.select(
        "user_id", F.floor(g / 60).cast("bigint").alias("gap_min")
    ).where(F.col("gap_min").isNotNull())
    per_gap = gaps.groupBy("user_id", "gap_min").agg(
        F.count(F.lit(1)).alias("n")
    )
    wtot = Window.partitionBy("user_id")
    wrk = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("gap_min")
    )
    ranked = per_gap.withColumn("total", F.sum("n").over(wtot)).withColumn(
        "rk", F.row_number().over(wrk)
    )
    return (
        ranked.where((F.col("rk") == 1) & (F.col("total") >= 5))
        .select(
            "user_id",
            F.col("gap_min").alias("modal_gap_min"),
            F.col("n").cast("bigint").alias("n_at_mode"),
            F.col("total").cast("bigint").alias("n_gaps"),
            (F.col("n").cast("double") / F.col("total").cast("double")).alias(
                "mode_share"
            ),
        )
    )


def _q_rle_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Run-length-encoding compressibility estimate per column of the
    sorted event stream: rows over value-change runs (lag != current)
    for event_type and user_id under (ts, event_id) order — the
    layout witness that predicts parquet RLE/dictionary win and
    whether a sort-before-write pays (sources/maintenance.py:
    write_sorted is the rewrite; this measures the prize). One window
    pass computes both columns' run starts."""
    ev = read_table(spark, sf, "events")
    w = Window.orderBy("ts", "event_id")
    runs = ev.select(
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0).alias("rt"),
        F.when(
            F.lag("user_id").over(w).isNull()
            | (F.lag("user_id").over(w) != F.col("user_id")),
            1,
        ).otherwise(0).alias("ru"),
    )
    agg = runs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("rt").cast("bigint").alias("runs_event_type"),
        F.sum("ru").cast("bigint").alias("runs_user_id"),
    )
    return agg.select(
        "n_rows",
        "runs_event_type",
        "runs_user_id",
        (
            F.col("n_rows").cast("double")
            / F.col("runs_event_type").cast("double")
        ).alias("rle_ratio_event_type"),
        (
            F.col("n_rows").cast("double")
            / F.col("runs_user_id").cast("double")
        ).alias("rle_ratio_user_id"),
    )


register_many(
    {
        'q284_mutual_knn': _q_mutual_knn,
        'q285_centroid_silhouette': _q_centroid_silhouette,
        'q286_decayed_popularity': _q_decayed_popularity,
        'q287_anova_f': _q_anova_f,
        'q288_retrieval_scoring': _q_retrieval_scoring,
        'q289_hoover_index': _q_hoover_index,
        'q290_freshness_audit': _q_freshness_audit,
        'q291_skyline_parts': _q_skyline_parts,
        'q292_seasonal_index': _q_seasonal_index,
        'q293_abc_xyz': _q_abc_xyz,
        'q294_term_burstiness': _q_term_burstiness,
        'q295_join_size_estimate': _q_join_size_estimate,
        'q296_rare_collapse': _q_rare_collapse,
        'q297_loo_target_encoding': _q_loo_target_encoding,
        'q298_feature_hashing': _q_feature_hashing,
        'q299_m_estimate_encoding': _q_m_estimate_encoding,
        'q301_window_dataset': _q_window_dataset,
        'q302_multihot_encoding': _q_multihot_encoding,
        'q303_clustering_coeff': _q_clustering_coeff,
        'q304_value_at_risk': _q_value_at_risk,
        'q305_partition_skew': _q_partition_skew,
        'q306_lang_confusion': _q_lang_confusion,
        'q307_detector_eval': _q_detector_eval,
        'q308_srm_check': _q_srm_check,
        'q309_temporal_integrity': _q_temporal_integrity,
        'q310_mix_shift': _q_mix_shift,
        'q311_ljung_box': _q_ljung_box,
        'q312_fd_discovery': _q_fd_discovery,
        'q313_order_inversions': _q_order_inversions,
        'q314_dataset_card': _q_dataset_card,
        'q315_zonemap_skipping': _q_zonemap_skipping,
        'q316_gains_table': _q_gains_table,
        'q317_delta_method': _q_delta_method,
        'q318_winsorized_mean': _q_winsorized_mean,
        'q319_tail_attribution': _q_tail_attribution,
        'q320_log2_histogram': _q_log2_histogram,
        'q321_periodicity_detector': _q_periodicity_detector,
        'q322_rle_estimate': _q_rle_estimate,
    },
    {
        'q284_mutual_knn': """
            WITH v AS (
              SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings WHERE vec_id < 50
            ),
            scored AS (
              SELECT q.vec_id AS qid, c.vec_id AS cid,
                list_dot_product(q.e, c.e)
                  / (sqrt(list_dot_product(q.e, q.e))
                     * sqrt(list_dot_product(c.e, c.e))) AS cosine
              FROM v q JOIN v c ON q.vec_id <> c.vec_id
            ),
            edges AS (
              SELECT qid, cid FROM (
                SELECT qid, cid,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, cid) AS rk
                FROM scored
              ) WHERE rk <= 3
            ),
            agg AS (
              SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
                (SELECT CAST(count(*) AS BIGINT) FROM edges e
                 WHERE EXISTS (SELECT 1 FROM edges r
                   WHERE r.qid = e.cid AND r.cid = e.qid)) AS n_mutual
            )
            SELECT n_edges, n_mutual,
              CAST(n_mutual AS DOUBLE) / CAST(n_edges AS DOUBLE)
                AS mutual_rate
            FROM agg
        """,
        'q285_centroid_silhouette': """
            WITH c AS (
              SELECT label, i AS dim,
                sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,8)))
                  AS s
              FROM embeddings,
                unnest(generate_series(1, len(embedding))) AS t(i)
              GROUP BY label, i
            ),
            cv AS (
              SELECT label AS clabel,
                list(CAST(s AS DOUBLE) ORDER BY dim) AS cvec
              FROM c GROUP BY label
            ),
            pts AS (
              SELECT vec_id, label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            cos AS (
              SELECT vec_id, label, clabel,
                list_dot_product(e, cvec)
                  / (sqrt(list_dot_product(e, e))
                     * sqrt(list_dot_product(cvec, cvec))) AS cos
              FROM pts CROSS JOIN cv
            ),
            own AS (
              SELECT vec_id, label, cos AS own_cos
              FROM cos WHERE label = clabel
            ),
            other AS (
              SELECT vec_id, max(cos) AS other_cos
              FROM cos WHERE label <> clabel GROUP BY vec_id
            )
            SELECT label,
              CAST(count(*) AS BIGINT) AS n_vecs,
              CAST(sum(CAST(own_cos - other_cos AS DECIMAL(38,6)))
                AS DOUBLE) / count(own_cos - other_cos) AS silhouette
            FROM own JOIN other USING (vec_id)
            GROUP BY label
        """,
        'q286_decayed_popularity': """
            WITH horizon AS (SELECT max(l_shipdate) AS h FROM lineitem),
            scored AS (
              SELECT l_partkey,
                CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE)
                  * pow(2.0E0, -CAST(floor(
                      date_diff('day', l_shipdate, h) / 7) AS DOUBLE))
                  AS term
              FROM lineitem CROSS JOIN horizon
            ),
            per_part AS (
              SELECT l_partkey,
                CAST(sum(CAST(term AS DECIMAL(38,6))) AS DOUBLE)
                  AS decayed_qty,
                CAST(count(*) AS BIGINT) AS n_sales
              FROM scored GROUP BY l_partkey
            )
            SELECT CAST(rk AS INT) AS rk, l_partkey, decayed_qty, n_sales
            FROM (
              SELECT l_partkey, decayed_qty, n_sales,
                row_number() OVER (ORDER BY decayed_qty DESC, l_partkey)
                  AS rk
              FROM per_part
            ) WHERE rk <= 20
        """,
        'q287_anova_f': """
            WITH g AS (
              SELECT event_type, count(*) AS n,
                sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS s,
                sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0))
                  * CAST(CAST(value AS DECIMAL(18,2)) * 100
                  AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS ss
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type
            ),
            per AS (
              SELECT event_type, n,
                CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                  AS s2n,
                CAST(s AS DOUBLE) AS sd,
                CAST(ss AS DOUBLE) AS ssd
              FROM g
            ),
            tot AS (
              SELECT CAST(sum(n) AS BIGINT) AS N,
                CAST(count(*) AS BIGINT) AS k,
                CAST(sum(CAST(s2n AS DECIMAL(38,6))) AS DOUBLE)
                  AS sum_s2n,
                CAST(sum(CAST(sd AS DECIMAL(38,6))) AS DOUBLE) AS S,
                CAST(sum(CAST(ssd AS DECIMAL(38,6))) AS DOUBLE) AS SS
              FROM per
            )
            SELECT N AS n_rows, k AS n_groups,
              sum_s2n - S * S / CAST(N AS DOUBLE) AS ssb,
              SS - sum_s2n AS ssw,
              ((sum_s2n - S * S / CAST(N AS DOUBLE))
                / CAST(k - 1 AS DOUBLE))
              / ((SS - sum_s2n) / CAST(N - k AS DOUBLE)) AS f_stat
            FROM tot
        """,
        'q288_retrieval_scoring': """
            WITH tok AS (
              SELECT doc_id,
                unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x <> '')) AS t
              FROM documents
            ),
            lens AS (
              SELECT doc_id,
                CAST(length(list_filter(
                  string_split_regex(trim(text), '\\s+'), x -> x <> ''))
                  AS BIGINT) AS len
              FROM documents
            ),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS N,
                CAST(sum(len) AS BIGINT) AS total_len
              FROM lens
            ),
            tf AS (
              SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
              FROM tok WHERE t IN ('spark', 'table', 'join')
              GROUP BY 1, 2
            ),
            dfr AS (
              SELECT t, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY t
            ),
            terms AS (
              SELECT tf.doc_id,
                ((CAST(N AS DOUBLE) - CAST(df AS DOUBLE) + 0.5E0)
                  / (CAST(df AS DOUBLE) + 0.5E0))
                * ((CAST(tf AS DOUBLE) * 2.2E0)
                  / (CAST(tf AS DOUBLE)
                    + 1.2E0 * (0.25E0 + 0.75E0 * CAST(len AS DOUBLE)
                      / (CAST(total_len AS DOUBLE) / CAST(N AS DOUBLE)))))
                  AS term_score
              FROM tf
              JOIN dfr USING (t)
              JOIN lens ON tf.doc_id = lens.doc_id
              CROSS JOIN stats
            ),
            scored AS (
              SELECT doc_id,
                CAST(sum(CAST(term_score AS DECIMAL(38,6))) AS DOUBLE)
                  AS score,
                CAST(count(*) AS BIGINT) AS n_terms_hit
              FROM terms GROUP BY doc_id
            )
            SELECT CAST(rk AS INT) AS rk, doc_id, score, n_terms_hit
            FROM (
              SELECT doc_id, score, n_terms_hit,
                row_number() OVER (ORDER BY score DESC, doc_id) AS rk
              FROM scored
            ) WHERE rk <= 10
        """,
        'q289_hoover_index': """
            WITH per_cust AS (
              SELECT o_custkey,
                sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
              FROM orders GROUP BY o_custkey
            ),
            tot AS (
              SELECT sum(rev) AS T, count(*) AS n FROM per_cust
            ),
            dev AS (
              SELECT n,
                abs(CAST(rev AS DOUBLE) / CAST(T AS DOUBLE)
                  - 1E0 / CAST(n AS DOUBLE)) AS d
              FROM per_cust CROSS JOIN tot
            )
            SELECT CAST(max(n) AS BIGINT) AS n_customers,
              CAST(sum(CAST(d AS DECIMAL(38,6))) AS DOUBLE) / 2E0
                AS hoover
            FROM dev
        """,
        'q290_freshness_audit': """
            WITH u AS (
              SELECT 'events' AS table_name,
                CAST(max(ts) AS DATE) AS max_day,
                CAST(min(ts) AS DATE) AS min_day,
                CAST(count(*) AS BIGINT) AS n_rows
              FROM events
              UNION ALL
              SELECT 'orders',
                CAST(max(o_orderdate) AS DATE),
                CAST(min(o_orderdate) AS DATE),
                CAST(count(*) AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'lineitem',
                CAST(max(l_shipdate) AS DATE),
                CAST(min(l_shipdate) AS DATE),
                CAST(count(*) AS BIGINT)
              FROM lineitem
            )
            SELECT table_name, max_day, min_day,
              CAST(date_diff('day', min_day, max_day) + 1 AS INT)
                AS span_days,
              n_rows
            FROM u
        """,
        'q291_skyline_parts': """
            SELECT p_partkey,
              CAST(p_retailprice AS DOUBLE) AS price,
              CAST(p_size AS INT) AS size
            FROM part p
            WHERE NOT EXISTS (
              SELECT 1 FROM part d
              WHERE d.p_retailprice <= p.p_retailprice
                AND d.p_size >= p.p_size
                AND (d.p_retailprice < p.p_retailprice
                     OR d.p_size > p.p_size)
            )
        """,
        'q292_seasonal_index': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            r AS (
              SELECT event_type,
                CAST(dayofweek(d) + 1 AS INT) AS dow,
                CASE WHEN count(*) OVER wc = 7 THEN
                  CAST(n AS DOUBLE)
                  / (CAST(sum(n) OVER wc AS DOUBLE)
                     / CAST(count(*) OVER wc AS DOUBLE)) END AS ratio
              FROM daily
              WINDOW wc AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            )
            SELECT event_type, dow,
              CAST(count(*) AS BIGINT) AS n_days,
              CAST(sum(CAST(ratio AS DECIMAL(38,6))) AS DOUBLE)
                / count(ratio) AS seasonal_index
            FROM r WHERE ratio IS NOT NULL
            GROUP BY event_type, dow
        """,
        'q293_abc_xyz': """
            WITH rev AS (
              SELECT l_partkey, sum({rev}) AS r
              FROM lineitem GROUP BY l_partkey
            ),
            abc AS (
              SELECT l_partkey,
                CASE WHEN CAST(sum(r) OVER (ORDER BY r DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) / CAST(sum(r) OVER () AS DOUBLE) <= 0.80E0
                  THEN 'A'
                  WHEN CAST(sum(r) OVER (ORDER BY r DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) / CAST(sum(r) OVER () AS DOUBLE) <= 0.95E0
                  THEN 'B' ELSE 'C' END AS abc
              FROM rev
            ),
            weekly AS (
              SELECT l_partkey, date_trunc('week', l_shipdate) AS w,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * 100)
                  AS DECIMAL(38,0)) AS q
              FROM lineitem GROUP BY 1, 2
            ),
            mom AS (
              SELECT l_partkey, count(*) AS k,
                sum(q) AS s1,
                sum(CAST(q * q AS DECIMAL(38,0))) AS s2
              FROM weekly GROUP BY l_partkey
            ),
            xyz AS (
              SELECT l_partkey,
                CASE WHEN k < 2 THEN 'Z'
                  WHEN (sqrt(CAST(CAST(k AS DECIMAL(12,0)) * s2
                        - s1 * s1 AS DOUBLE)) / CAST(k AS DOUBLE))
                    / (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)) < 0.5E0
                  THEN 'X'
                  WHEN (sqrt(CAST(CAST(k AS DECIMAL(12,0)) * s2
                        - s1 * s1 AS DOUBLE)) / CAST(k AS DOUBLE))
                    / (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)) < 1.0E0
                  THEN 'Y' ELSE 'Z' END AS xyz
              FROM mom
            )
            SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts
            FROM abc JOIN xyz USING (l_partkey)
            GROUP BY abc, xyz
        """.format(rev=_REV_SQL),
        'q294_term_burstiness': """
            WITH tok AS (
              SELECT doc_id,
                unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x <> '')) AS t
              FROM documents
            ),
            stats AS (
              SELECT t AS term,
                CAST(count(*) AS BIGINT) AS cf,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM tok GROUP BY t HAVING count(*) >= 10
            )
            SELECT CAST(rk AS INT) AS rk, term, cf, df, burstiness
            FROM (
              SELECT term, cf, df,
                CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness,
                row_number() OVER (
                  ORDER BY CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) DESC,
                    term) AS rk
              FROM stats
            ) WHERE rk <= 20
        """,
        'q295_join_size_estimate': """
            WITH ca AS (
              SELECT o_orderkey, CAST(count(*) AS BIGINT) AS cnt_a
              FROM orders GROUP BY o_orderkey
            ),
            cb AS (
              SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt_b
              FROM lineitem GROUP BY l_orderkey
            ),
            est AS (
              SELECT CAST(sum(cnt_a * cnt_b) AS BIGINT) AS est_rows
              FROM ca JOIN cb ON o_orderkey = l_orderkey
            ),
            act AS (
              SELECT CAST(count(*) AS BIGINT) AS actual_rows
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            )
            SELECT est_rows, actual_rows,
              est_rows = actual_rows AS exact
            FROM est CROSS JOIN act
        """,
        'q296_rare_collapse': """
            WITH counts AS (
              SELECT concat_ws('|', event_type,
                CAST(json_extract_string(props, '$.k') AS VARCHAR))
                AS cat,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1
            )
            SELECT CASE WHEN n >= 25 THEN cat ELSE '__other__' END
                AS category,
              CAST(sum(n) AS BIGINT) AS n_rows,
              CAST(count(*) AS BIGINT) AS n_source_cats
            FROM counts GROUP BY 1
        """,
        'q297_loo_target_encoding': """
            WITH g AS (
              SELECT event_type,
                sum(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,6)))
                  AS sg,
                count(*) AS ng
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type
            )
            SELECT event_id, e.event_type,
              CAST(sg - CAST(CAST(value AS DECIMAL(18,2))
                AS DECIMAL(38,6)) AS DOUBLE)
                / CAST(ng - 1 AS DOUBLE) AS loo_encoding
            FROM events e JOIN g ON e.event_type = g.event_type
            WHERE value IS NOT NULL
        """,
        'q298_feature_hashing': """
            WITH b AS (
              SELECT
                concat_ws('|', event_type,
                  CAST(dayofweek(ts) + 1 AS VARCHAR)) AS crossed,
                substr(md5('fh1' || concat_ws('|', event_type,
                  CAST(dayofweek(ts) + 1 AS VARCHAR))), 1, 2) AS bucket
              FROM events
            )
            SELECT bucket,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(DISTINCT crossed) AS BIGINT) AS n_crosses
            FROM b GROUP BY bucket
        """,
        'q299_m_estimate_encoding': """
            WITH g AS (
              SELECT event_type,
                sum(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,6)))
                  AS sg,
                count(*) AS ng
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type
            ),
            tot AS (
              SELECT sum(CAST(CAST(value AS DECIMAL(18,2))
                AS DECIMAL(38,6))) AS st,
                count(*) AS nt
              FROM events WHERE value IS NOT NULL
            )
            SELECT event_type, CAST(ng AS BIGINT) AS n,
              CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS raw_mean,
              (CAST(sg AS DOUBLE)
                + 20E0 * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)))
                / (CAST(ng AS DOUBLE) + 20E0) AS m_encoding
            FROM g CROSS JOIN tot
        """,
        'q301_window_dataset': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            built AS (
              SELECT event_type, d,
                CASE WHEN count(*) OVER wf = 7 THEN
                  array_to_string(list(CAST(n AS VARCHAR)) OVER wf, ',')
                END AS features_csv,
                lead(n) OVER wt AS label
              FROM daily
              WINDOW wt AS (PARTITION BY event_type ORDER BY d),
              wf AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            )
            SELECT event_type, d, features_csv, label
            FROM built
            WHERE features_csv IS NOT NULL AND label IS NOT NULL
        """,
        'q302_multihot_encoding': """
            WITH masked AS (
              SELECT user_id,
                CAST(1 << (CASE event_type
                  WHEN 'click' THEN 0 WHEN 'error' THEN 1
                  WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                  WHEN 'view' THEN 4 ELSE 5 END) AS BIGINT) AS bit
              FROM events
            ),
            per_user AS (
              SELECT user_id, CAST(bit_or(bit) AS BIGINT) AS mask
              FROM masked GROUP BY user_id
            )
            SELECT user_id, mask,
              CAST(bit_count(mask) AS INT) AS n_types,
              (mask & 4) > 0 AS has_purchase,
              (mask & 2) > 0 AS has_error
            FROM per_user
        """,
        'q303_clustering_coeff': """
            WITH grp AS (
              SELECT DISTINCT user_id,
                concat_ws('|', event_type,
                  CAST(date_trunc('day', ts) AS VARCHAR)) AS g
              FROM events
            ),
            edges AS (
              SELECT DISTINCT a.user_id AS u, b.user_id AS v
              FROM grp a JOIN grp b
                ON a.g = b.g AND a.user_id < b.user_id
            ),
            deg AS (
              SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT u AS n FROM edges
                UNION ALL SELECT v AS n FROM edges
              ) GROUP BY n
            ),
            triads AS (
              SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS triads
              FROM deg
            ),
            tri AS (
              SELECT CAST(count(*) AS BIGINT) AS triangles
              FROM edges e1
              JOIN edges e2 ON e1.v = e2.u
              JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
            )
            SELECT triangles, triads,
              3E0 * CAST(triangles AS DOUBLE) / CAST(triads AS DOUBLE)
                AS clustering_coeff
            FROM tri CROSS JOIN triads
        """,
        'q304_value_at_risk': """
            WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS d,
                CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                  AS rev
              FROM orders GROUP BY 1
            ),
            deltas AS (
              SELECT rev - lag(rev) OVER (ORDER BY d) AS chg FROM daily
            )
            SELECT CAST(count(*) AS BIGINT) AS n_days,
              quantile_cont(chg, 0.05) AS var_95,
              quantile_cont(chg, 0.01) AS var_99,
              min(chg) AS worst_day
            FROM deltas WHERE chg IS NOT NULL
        """,
        'q305_partition_skew': """
            WITH per AS (
              SELECT CAST(l_shipdate AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM lineitem GROUP BY 1
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS k,
                CAST(sum(n) AS BIGINT) AS s1,
                CAST(sum(n * n) AS BIGINT) AS s2,
                CAST(max(n) AS BIGINT) AS mx
              FROM per
            )
            SELECT k AS n_partitions, mx AS max_rows,
              CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS mean_rows,
              CAST(mx AS DOUBLE)
                / (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)) AS max_over_mean,
              (sqrt(CAST(k * s2 - s1 * s1 AS DOUBLE)) / CAST(k AS DOUBLE))
                / (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)) AS cv
            FROM agg
        """,
        'q306_lang_confusion': """
            WITH toks AS (
              SELECT lang,
                list_transform(
                  list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> ''),
                  t -> lower(t)
                ) AS tok
              FROM documents
            ),
            pred AS (
              SELECT lang,
                CASE WHEN best.score > 0 THEN best.lang
                     ELSE 'unknown' END AS pred
              FROM (
                SELECT lang,
                  list_aggregate([
                    {'score': len(list_filter(tok, t ->
                      list_contains(['the','and','of','is','to'], t))),
                     'lang': 'en'},
                    {'score': len(list_filter(tok, t ->
                      list_contains(['el','la','los','es','una'], t))),
                     'lang': 'es'},
                    {'score': len(list_filter(tok, t ->
                      list_contains(['der','die','und','ist','ein'], t))),
                     'lang': 'de'},
                    {'score': len(list_filter(tok, t ->
                      list_contains(['le','les','est','une','dans'], t))),
                     'lang': 'fr'}
                  ], 'max') AS best
                FROM toks
              )
            ),
            cells AS (
              SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
              FROM pred GROUP BY 1, 2
            )
            SELECT lang, pred, n,
              CAST(n AS DOUBLE)
                / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE)
                AS row_share
            FROM cells
        """,
        'q307_detector_eval': """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS d,
                CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            boosted AS (
              SELECT event_type, d,
                substr(md5('inj' || event_type || CAST(CAST(d AS DATE) AS VARCHAR)),
                  1, 8) < '33333333' AS is_injected,
                CASE WHEN substr(md5('inj' || event_type
                    || CAST(CAST(d AS DATE) AS VARCHAR)), 1, 8) < '33333333'
                  THEN (n * 16) / 10
                  ELSE CAST(n AS DOUBLE) END AS nb
              FROM daily
            ),
            scored AS (
              SELECT event_type, d, is_injected,
                CASE WHEN sum(nb) OVER wt / count(*) OVER wt IS NOT NULL
                  AND nb > 1.3E0 * (sum(nb) OVER wt / count(*) OVER wt)
                THEN 1 ELSE 0 END AS flagged
              FROM boosted
              WINDOW wt AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            ),
            per_type AS (
              SELECT event_type,
                CAST(sum(CASE WHEN is_injected AND flagged = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(sum(CASE WHEN NOT is_injected AND flagged = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(sum(CASE WHEN is_injected AND flagged = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS fn
              FROM scored GROUP BY event_type
            )
            SELECT event_type, tp, fp, fn,
              CASE WHEN tp + fp > 0 THEN
                CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
                AS precision,
              CASE WHEN tp + fn > 0 THEN
                CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
                AS recall
            FROM per_type
        """,
        'q308_srm_check': """
            WITH users AS (SELECT DISTINCT user_id FROM events),
            assigned AS (
              SELECT user_id,
                CASE WHEN substr(md5('v1' || CAST(user_id AS VARCHAR)),
                    1, 8) < 'cccccccc' THEN 'train'
                  WHEN substr(md5('v1' || CAST(user_id AS VARCHAR)),
                    1, 8) < 'e6666666' THEN 'val'
                  ELSE 'test' END AS split
              FROM users
            ),
            counts AS (
              SELECT split, CAST(count(*) AS BIGINT) AS n
              FROM assigned GROUP BY split
            ),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM counts)
            SELECT split, n,
              (CASE WHEN split = 'train' THEN 0.8E0 ELSE 0.1E0 END)
                * CAST(nt AS DOUBLE) AS expected,
              (CAST(n AS DOUBLE)
                - (CASE WHEN split = 'train' THEN 0.8E0 ELSE 0.1E0 END)
                  * CAST(nt AS DOUBLE))
              * (CAST(n AS DOUBLE)
                - (CASE WHEN split = 'train' THEN 0.8E0 ELSE 0.1E0 END)
                  * CAST(nt AS DOUBLE))
              / ((CASE WHEN split = 'train' THEN 0.8E0 ELSE 0.1E0 END)
                  * CAST(nt AS DOUBLE)) AS chi2_term
            FROM counts CROSS JOIN tot
        """,
        'q309_temporal_integrity': """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                < 0 THEN 1 ELSE 0 END) AS BIGINT) AS ship_before_order,
              CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                > 90 THEN 1 ELSE 0 END) AS BIGINT) AS ship_after_90d,
              CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS INT)
                AS max_gap_days,
              CAST(min(date_diff('day', o_orderdate, l_shipdate)) AS INT)
                AS min_gap_days
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """,
        'q310_mix_shift': """
            WITH mp AS (
              SELECT date_trunc('month', o_orderdate) AS m,
                o_orderpriority, CAST(count(*) AS BIGINT) AS n
              FROM orders GROUP BY 1, 2
            ),
            overall AS (
              SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS no
              FROM orders GROUP BY 1
            ),
            ref AS (
              SELECT o_orderpriority,
                CAST(no AS DOUBLE) / CAST(sum(no) OVER () AS DOUBLE)
                  AS ref_share
              FROM overall
            ),
            cells AS (
              SELECT m,
                CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY m) AS DOUBLE) AS share,
                ref_share
              FROM mp JOIN ref USING (o_orderpriority)
            )
            SELECT m,
              CAST(sum(CAST(abs(share - ref_share) AS DECIMAL(38,6)))
                AS DOUBLE) / 2E0 AS tvd,
              CAST(count(*) AS BIGINT) AS n_priorities
            FROM cells GROUP BY m
        """,
        'q311_ljung_box': """
            WITH lagged AS (
              SELECT event_type, value AS x,
                lead(value, 1) OVER w AS y1,
                lead(value, 2) OVER w AS y2,
                lead(value, 3) OVER w AS y3,
                lead(value, 4) OVER w AS y4,
                lead(value, 5) OVER w AS y5
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY ts)
            ),
            pairs AS (
              SELECT event_type, 1 AS lag, x, y1 AS y FROM lagged
              UNION ALL SELECT event_type, 2, x, y2 FROM lagged
              UNION ALL SELECT event_type, 3, x, y3 FROM lagged
              UNION ALL SELECT event_type, 4, x, y4 FROM lagged
              UNION ALL SELECT event_type, 5, x, y5 FROM lagged
            ),
            ints AS (
              SELECT event_type, lag,
                CAST(CAST(x AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)) AS xi,
                CAST(CAST(y AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)) AS yi
              FROM pairs WHERE x IS NOT NULL AND y IS NOT NULL
            ),
            s AS (
              SELECT event_type, lag, count(*) AS n,
                sum(CAST(xi AS DECIMAL(38,0))) AS sx,
                sum(CAST(yi AS DECIMAL(38,0))) AS sy,
                sum(CAST(xi * xi AS DECIMAL(38,0))) AS sxx,
                sum(CAST(yi * yi AS DECIMAL(38,0))) AS syy,
                sum(CAST(xi * yi AS DECIMAL(38,0))) AS sxy
              FROM ints GROUP BY 1, 2
            ),
            e AS (
              SELECT event_type, lag, n,
                CAST(CAST(CAST(n AS DECIMAL(12,0)) * CAST(sxy AS DECIMAL(24,0)) AS DECIMAL(36,0))
                     - CAST(CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS DECIMAL(36,0)) AS DOUBLE) AS cov_n,
                CAST(CAST(CAST(n AS DECIMAL(12,0)) * CAST(sxx AS DECIMAL(24,0)) AS DECIMAL(36,0))
                     - CAST(CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0)) AS DECIMAL(36,0)) AS DOUBLE) AS var_x,
                CAST(CAST(CAST(n AS DECIMAL(12,0)) * CAST(syy AS DECIMAL(24,0)) AS DECIMAL(36,0))
                     - CAST(CAST(sy AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS DECIMAL(36,0)) AS DOUBLE) AS var_y
              FROM s
            ),
            r AS (
              SELECT event_type, lag,
                CASE WHEN sqrt(var_x) * sqrt(var_y) > 0
                     THEN cov_n / (sqrt(var_x) * sqrt(var_y)) END AS acf
              FROM e
            ),
            ns AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS len
              FROM events GROUP BY event_type
            ),
            per AS (
              SELECT r.event_type, max(len) AS len,
                CAST(sum(CAST((acf * acf) / CAST(len - lag AS DOUBLE)
                  AS DECIMAL(38,6))) AS DOUBLE) AS ssum,
                CAST(count(*) AS BIGINT) AS n_lags
              FROM r JOIN ns ON r.event_type = ns.event_type
              WHERE acf IS NOT NULL
              GROUP BY r.event_type
            )
            SELECT event_type, CAST(len AS BIGINT) AS n_obs, n_lags,
              CAST(len AS DOUBLE) * CAST(len + 2 AS DOUBLE) * ssum
                AS ljung_box_q
            FROM per
        """,
        'q312_fd_discovery': """
            WITH wide AS (
              SELECT
                CAST(count(DISTINCT o_orderkey) AS BIGINT) AS l1,
                CAST(count(DISTINCT (o_orderkey, o_custkey)) AS BIGINT)
                  AS p1,
                CAST(count(DISTINCT o_orderkey) AS BIGINT) AS l2,
                CAST(count(DISTINCT (o_orderkey, o_orderstatus))
                  AS BIGINT) AS p2,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS l3,
                CAST(count(DISTINCT (o_custkey, o_orderpriority))
                  AS BIGINT) AS p3,
                CAST(count(DISTINCT o_orderdate) AS BIGINT) AS l4,
                CAST(count(DISTINCT (o_orderdate, o_orderstatus))
                  AS BIGINT) AS p4
              FROM orders
            )
            SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
              l1 AS n_lhs, p1 AS n_pair, l1 = p1 AS is_fd FROM wide
            UNION ALL
            SELECT 'o_orderkey', 'o_orderstatus', l2, p2, l2 = p2
            FROM wide
            UNION ALL
            SELECT 'o_custkey', 'o_orderpriority', l3, p3, l3 = p3
            FROM wide
            UNION ALL
            SELECT 'o_orderdate', 'o_orderstatus', l4, p4, l4 = p4
            FROM wide
        """,
        'q313_order_inversions': """
            SELECT a.user_id,
              CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(sum(CASE WHEN a.ts > b.ts THEN 1 ELSE 0 END)
                AS BIGINT) AS inversions,
              CAST(sum(CASE WHEN a.ts > b.ts THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS inversion_rate
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
            GROUP BY a.user_id
        """,
        'q314_dataset_card': """
            WITH per_doc AS (
              SELECT doc_id, lang,
                CAST(length(list_filter(
                  string_split_regex(trim(text), '\\s+'), x -> x <> ''))
                  AS BIGINT) AS nt,
                CAST(length(text) AS BIGINT) AS nc,
                md5(text) AS h
              FROM documents
            ),
            vocab AS (
              SELECT CAST(count(DISTINCT t) AS BIGINT) AS vocab FROM (
                SELECT unnest(list_filter(
                  string_split_regex(trim(text), '\\s+'), x -> x <> ''))
                  AS t
                FROM documents
              )
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts
              FROM per_doc
            )
            SELECT n_docs, n_tokens, n_chars, n_langs, vocab,
              CAST(n_docs - n_unique_texts AS DOUBLE)
                / CAST(n_docs AS DOUBLE) AS exact_dup_rate,
              CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
                AS mean_doc_tokens
            FROM agg CROSS JOIN vocab
        """,
        'q315_zonemap_skipping': """
            WITH zones AS (
              SELECT CAST(l_shipdate AS DATE) AS d,
                min(l_extendedprice) AS zmin,
                max(l_extendedprice) AS zmax,
                CAST(count(*) AS BIGINT) AS n_rows
              FROM lineitem GROUP BY 1
            )
            SELECT CAST(count(*) AS BIGINT) AS n_partitions,
              CAST(sum(CASE WHEN zmax <= 45000.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_skippable,
              CAST(sum(CASE WHEN zmax <= 45000.0 THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS skip_fraction,
              CAST(sum(CASE WHEN zmax <= 45000.0 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_skipped
            FROM zones
        """,
        'q316_gains_table': """
            WITH per_user AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS activity,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS converted
              FROM events GROUP BY user_id
            ),
            binned AS (
              SELECT user_id, converted,
                ntile(10) OVER (ORDER BY activity DESC, user_id)
                  AS decile
              FROM per_user
            ),
            per_dec AS (
              SELECT decile,
                CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(converted) AS BIGINT) AS n_conv
              FROM binned GROUP BY decile
            )
            SELECT CAST(decile AS INT) AS decile, n_users, n_conv,
              CAST(sum(n_conv) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / CAST(sum(n_conv) OVER () AS DOUBLE)
                AS cum_capture,
              (CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
                / (CAST(sum(n_conv) OVER () AS DOUBLE)
                  / CAST(sum(n_users) OVER () AS DOUBLE)) AS lift
            FROM per_dec
        """,
        'q317_delta_method': """
            WITH per_user AS (
              SELECT event_type, user_id,
                sum(CAST(value AS DECIMAL(18,2))) AS x,
                count(*) AS y
              FROM events WHERE value IS NOT NULL
              GROUP BY 1, 2
            ),
            ints AS (
              SELECT event_type,
                CAST(x * 100 AS DECIMAL(19,0)) AS xi,
                CAST(y AS DECIMAL(19,0)) AS yi
              FROM per_user
            ),
            s AS (
              SELECT event_type, count(*) AS n,
                sum(CAST(xi AS DECIMAL(38,0))) AS sx,
                sum(CAST(yi AS DECIMAL(38,0))) AS sy,
                sum(CAST(xi * xi AS DECIMAL(38,0))) AS sxx,
                sum(CAST(yi * yi AS DECIMAL(38,0))) AS syy,
                sum(CAST(xi * yi AS DECIMAL(38,0))) AS sxy
              FROM ints GROUP BY event_type
            ),
            e AS (
              SELECT event_type, n,
                CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
                CAST(CAST(n AS DECIMAL(12,0)) * sxx - sx * sx AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vx,
                CAST(CAST(n AS DECIMAL(12,0)) * syy - sy * sy AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vy,
                CAST(CAST(n AS DECIMAL(12,0)) * sxy - sx * sy AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cxy
              FROM s
            )
            SELECT event_type, CAST(n AS BIGINT) AS n_users,
              (mx / my) / 100E0 AS ratio,
              sqrt(((mx / my) * (mx / my))
                * (vx / (mx * mx) + vy / (my * my)
                   - 2E0 * cxy / (mx * my))
                / CAST(n AS DOUBLE)) / 100E0 AS se_delta
            FROM e
        """,
        'q318_winsorized_mean': """
            WITH bounds AS (
              SELECT event_type,
                quantile_cont(value, 0.05) AS p5,
                quantile_cont(value, 0.95) AS p95
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type
            )
            SELECT e.event_type,
              CAST(count(*) AS BIGINT) AS n,
              {raw} AS raw_mean,
              CAST(sum(CAST(least(greatest(value, p5), p95)
                AS DECIMAL(38,6))) AS DOUBLE)
                / count(least(greatest(value, p5), p95))
                AS winsorized_mean
            FROM events e JOIN bounds b ON e.event_type = b.event_type
            WHERE value IS NOT NULL
            GROUP BY e.event_type
        """.format(raw=_davg_sql("value")),
        'q319_tail_attribution': """
            WITH thr AS (
              SELECT quantile_cont(value, 0.99) AS p99
              FROM events WHERE value IS NOT NULL
            ),
            per_type AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN value > p99 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_tail,
                max(p99) AS p99
              FROM events CROSS JOIN thr
              WHERE value IS NOT NULL
              GROUP BY event_type
            )
            SELECT event_type, n, n_tail, p99,
              CAST(n_tail AS DOUBLE)
                / CAST(sum(n_tail) OVER () AS DOUBLE) AS tail_share,
              CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
                AS body_share
            FROM per_type
        """,
        'q320_log2_histogram': """
            WITH gaps AS (
              SELECT event_type,
                CAST(floor(epoch(ts)) AS BIGINT)
                  - CAST(floor(epoch(lag(ts) OVER (
                      PARTITION BY event_type, user_id
                      ORDER BY ts, event_id))) AS BIGINT) AS g
              FROM events
            )
            SELECT event_type,
              CAST(CASE WHEN g <= 0 THEN 0
                ELSE length(printf('%b', g)) - 1 END AS INT)
                AS log2_bucket,
              CAST(count(*) AS BIGINT) AS n
            FROM gaps WHERE g IS NOT NULL
            GROUP BY 1, 2
        """,
        'q321_periodicity_detector': """
            WITH gaps AS (
              SELECT user_id,
                CAST(floor((CAST(floor(epoch(ts)) AS BIGINT)
                  - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id))) AS BIGINT)) / 60)
                  AS BIGINT) AS gap_min
              FROM events
            ),
            per_gap AS (
              SELECT user_id, gap_min, CAST(count(*) AS BIGINT) AS n
              FROM gaps WHERE gap_min IS NOT NULL
              GROUP BY 1, 2
            ),
            ranked AS (
              SELECT user_id, gap_min, n,
                CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT)
                  AS total,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY n DESC, gap_min) AS rk
              FROM per_gap
            )
            SELECT user_id, gap_min AS modal_gap_min, n AS n_at_mode,
              total AS n_gaps,
              CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS mode_share
            FROM ranked WHERE rk = 1 AND total >= 5
        """,
        'q322_rle_estimate': """
            WITH runs AS (
              SELECT
                CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS rt,
                CASE WHEN lag(user_id) OVER w IS NULL
                  OR lag(user_id) OVER w <> user_id
                THEN 1 ELSE 0 END AS ru
              FROM events
              WINDOW w AS (ORDER BY ts, event_id)
            ),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(rt) AS BIGINT) AS runs_event_type,
                CAST(sum(ru) AS BIGINT) AS runs_user_id
              FROM runs
            )
            SELECT n_rows, runs_event_type, runs_user_id,
              CAST(n_rows AS DOUBLE) / CAST(runs_event_type AS DOUBLE)
                AS rle_ratio_event_type,
              CAST(n_rows AS DOUBLE) / CAST(runs_user_id AS DOUBLE)
                AS rle_ratio_user_id
            FROM agg
        """,
    },
)
