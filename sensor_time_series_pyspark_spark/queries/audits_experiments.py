"""Round-7 family (q542-q569): data-infrastructure / corpus-quality
audits and experimentation-economics queries — KMV bottom-k distinct
sketch with an
exact SQL twin, rendezvous-hash shard planning, within-transformation
fixed-effects regression, DSIR-style distribution-matching sampling
plans, EOQ/safety-stock inventory policy, and Matryoshka embedding
truncation fidelity.

All hash-gated: every stage is either exact integer/decimal algebra,
a correctly-rounded double division/sqrt in a fixed literal order, or
an ordered JVM fold mirrored by DuckDB's ordered ``list_reduce`` (the
q510 discipline — see queries/common.py docstrings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_time_series_pyspark_spark.queries.corpus_sampling import _h48
from sensor_time_series_pyspark_spark.queries.registry import register_many
from sensor_time_series_pyspark_spark.sources.readers import read_table

# 63 * 2^48: six significant bits, exactly representable as a double
_KMV_NUM = float(63 * (1 << 48))
_KMV_K = 64


def _q_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (bottom-k, k=64) distinct-count estimate per event type,
    WITH its exact answer and relative error in the same row — the
    sketch that, unlike HLL, has a bit-exact cross-engine twin because
    its estimate is pure order statistics over portable md5 hashes:
    est = (k-1)*2^48 / h_(k) where h_(k) is the k-th smallest 48-bit
    hash of the distinct keys (exact count when fewer than k keys).
    Mergeable at 100 TB by unioning per-partition bottom-k lists and
    re-taking the bottom k — the shuffle carries k*8 bytes per group,
    never the key set. Numerator 63*2^48 has 6 significant bits (exact
    double); ONE division; |err|/n is two more IEEE ops in fixed
    order."""
    ev = read_table(spark, sf, "events")
    du = ev.select("event_type", "user_id").distinct()
    hashed = du.select(
        "event_type", _h48(F.col("user_id"), "kmv:").alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    per_type = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_hash"),
    )
    est = F.when(
        F.col("n_exact") < _KMV_K, F.col("n_exact").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("kth_hash").cast("double"))
    return per_type.select(
        "event_type",
        "n_exact",
        "kth_hash",
        est.alias("est_kmv"),
        (
            F.abs(est - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double")
        ).alias("rel_err"),
    )


def _q_rendezvous_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding plan: every
    customer key picks the shard with the max md5('hrw:'||key||':'||s)
    over s in 0..N-1. Reports the (shard_12, shard_13) assignment
    matrix when growing from 12 to 13 shards — HRW's guarantee is
    that keys only ever move TO the new shard (rows with shard_12 !=
    shard_13 all have shard_13 = 12, ~1/13 of keys), vs modulo
    sharding which reshuffles ~12/13 of them. One explode to 13 rows
    per key (map-side), one aggregate; at 100 TB the key table
    shuffles once at (key, 13) grain — no state, no coordination."""
    cust = read_table(spark, sf, "customer").select("c_custkey")
    s = cust.withColumn("s", F.explode(F.sequence(F.lit(0), F.lit(12))))
    h = _h48(
        F.concat(
            F.col("c_custkey").cast("string"),
            F.lit(":"),
            F.col("s").cast("string"),
        ),
        "hrw:",
    )
    scored = s.withColumn("h", h)
    picks = scored.groupBy("c_custkey").agg(
        F.max_by(
            F.when(F.col("s") < 12, F.col("s")),
            F.when(F.col("s") < 12, F.col("h")).otherwise(F.lit(-1)),
        ).alias("shard_12"),
        F.max_by("s", "h").alias("shard_13"),
    )
    return picks.groupBy("shard_12", "shard_13").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    )


def _q_within_fe_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Month-fixed-effects (within-transformation) regression of daily
    revenue on daily order count: slope = S_xy^w / S_xx^w where
    S^w = sum over months m of (n_m*S_m - Sx_m*Sy_m)/n_m — the one-way
    FE estimator that absorbs month-level shocks (seasonality, price
    changes) a pooled OLS would confound. Per-month numerators are
    EXACT decimal(38) integer algebra (revenue in cents); each month
    contributes ONE decimal->double cast + ONE division, and the
    month terms fold in ascending calendar order inside a JVM
    F.aggregate mirrored by DuckDB's ordered list_reduce (+0.0-init
    identity). Scales as: one day-grain aggregate, one month-grain
    aggregate over the bounded calendar frame."""
    o = read_table(spark, sf, "orders")
    daily = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        F.to_date("o_orderdate").alias("d"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
        ).alias("y"),
    )
    per_m = daily.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    term_xy = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        / F.col("n").cast("double")
    )
    term_xx = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        / F.col("n").cast("double")
    )
    terms = per_m.select(
        "m", "n", term_xy.alias("txy"), term_xx.alias("txx")
    )
    folded = terms.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum("n").cast("bigint").alias("n_days"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("m"), F.col("txy")))
            ),
            F.lit(0.0),
            lambda acc, e: acc + e["txy"],
        ).alias("sxy_w"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("m"), F.col("txx")))
            ),
            F.lit(0.0),
            lambda acc, e: acc + e["txx"],
        ).alias("sxx_w"),
    )
    return folded.select(
        "n_months",
        "n_days",
        "sxy_w",
        "sxx_w",
        (F.col("sxy_w") / F.col("sxx_w")).alias("slope_within"),
    )


def _q_dsir_reweight(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style distribution-matching sampling plan: flatten each
    language's length distribution to uniform over its occupied
    100-char buckets. Per (lang, bucket): keep probability
    p = min(1, N_lang / (k_lang * n_bucket)) (over-represented buckets
    are thinned toward the uniform target, rare ones kept whole), the
    expected kept count, and the ACTUAL deterministic kept count under
    md5 thresholds floor(p*2^48) — so the plan and its realization
    audit each other in one table. Pure integer division for buckets
    (`div`, identical truncation in both engines); ONE double division
    for p; membership is the q531 hash-threshold discipline (stable
    under retries/repartition). Scales as one doc-grain map + one
    bucket-grain aggregate + one broadcast join back."""
    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", F.expr("n_chars div 100").alias("bucket")
    )
    per_bucket = docs.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    planned = per_bucket.select(
        "lang",
        "bucket",
        "n_docs",
        F.sum("n_docs").over(w).cast("bigint").alias("n_lang"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("k_lang"),
    ).withColumn(
        "p_keep",
        F.least(
            F.lit(1.0),
            F.col("n_lang").cast("double")
            / (F.col("k_lang") * F.col("n_docs")).cast("double"),
        ),
    ).withColumn(
        "thr", F.floor(F.col("p_keep") * F.lit(float(1 << 48)))
    )
    kept = (
        docs.join(F.broadcast(planned), ["lang", "bucket"])
        .where(_h48(F.col("doc_id"), "dsir:") < F.col("thr"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        planned.join(kept, ["lang", "bucket"], "left")
        .select(
            "lang",
            "bucket",
            "n_docs",
            "p_keep",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias(
                "n_kept"
            ),
        )
    )


def _q_eoq_policy(spark: SparkSession, sf: str) -> DataFrame:
    """Inventory policy per part brand: EOQ = sqrt(2*D*S/H) with
    annualized demand D (units), fixed order cost S=100, holding cost
    H = 20% of the brand's mean retail price; safety stock =
    z * sigma_daily * sqrt(L) at z=1.645 (95% service), L=7 days; and
    the reorder point mu_daily*L + ss. sigma_daily comes from exact
    integer daily-demand moments ((n*Sxx - Sx^2) / (n*(n-1)) with ONE
    decimal->double cast and ONE division) — sqrt is IEEE-exact in
    every engine, so the whole policy row hash-gates. Two bounded
    aggregates (brand x day, then brand)."""
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part")
    daily = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_retailprice")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy("p_brand", F.to_date("l_shipdate").alias("d"))
        .agg(
            F.sum(
                (F.col("l_quantity").cast("decimal(12,2)") * 100).cast(
                    "bigint"
                )
            ).alias("q_c"),
            F.sum(
                (F.col("p_retailprice").cast("decimal(12,2)") * 100).cast(
                    "bigint"
                )
            ).alias("pr_c"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )
    agg = daily.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("q_c").cast("decimal(38,0)").alias("sq"),
        F.sum(F.col("q_c") * F.col("q_c"))
        .cast("decimal(38,0)")
        .alias("sqq"),
        F.sum("pr_c").cast("decimal(38,0)").alias("spr"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
    )
    n = F.col("n_days").cast("double")
    # units: demand in cents-of-units / 100 -> units, fixed op order
    mu_daily = F.col("sq").cast("double") / n / F.lit(100.0)
    var_c = (
        (F.col("n_days") * F.col("sqq") - F.col("sq") * F.col("sq"))
        .cast("double")
        / (F.col("n_days") * (F.col("n_days") - 1)).cast("double")
    )
    sigma_daily = F.sqrt(var_c) / F.lit(100.0)
    d_annual = mu_daily * F.lit(365.0)
    h_cost = (
        F.col("spr").cast("double")
        / F.col("n_lines").cast("double")
        / F.lit(100.0)
        * F.lit(0.2)
    )
    eoq = F.sqrt(F.lit(2.0) * d_annual * F.lit(100.0) / h_cost)
    ss = F.lit(1.645) * sigma_daily * F.sqrt(F.lit(7.0))
    return agg.select(
        "p_brand",
        "n_days",
        d_annual.alias("d_annual"),
        sigma_daily.alias("sigma_daily"),
        eoq.alias("eoq"),
        ss.alias("safety_stock"),
        (mu_daily * F.lit(7.0) + ss).alias("reorder_point"),
    )


_Q20 = 1 << 20  # power-of-2 quantization scale: float*2^20 is exact


def _q_matryoshka_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka truncation fidelity: how much of the exact top-5
    dot-product neighborhood survives when embeddings are truncated to
    their first 8 / 16 / 32 of 64 dims — the measurement behind
    serving MRL embeddings at reduced cost. Vectors are quantized to
    exact integers (floor(x*2^20); power-of-2 scale, no rounding) so
    dot products and rankings are bit-identical in any engine
    (the q47 pivot-IVF discipline). Ten broadcast query vectors scan
    the corpus once per dim tier (constant-cardinality broadcast join,
    the q23 verification-tier shape); output (qid, dim, n_overlap)."""
    emb = read_table(spark, sf, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("cid"),
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * _Q20)
        ).alias("cv"),
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * _Q20)
        ).alias("qv"),
    )
    pairs = corpus.crossJoin(F.broadcast(queries)).where(
        F.col("cid") != F.col("qid")
    )

    def _dot(d: int) -> F.Column:
        return F.aggregate(
            F.zip_with(
                F.slice("qv", 1, d), F.slice("cv", 1, d), lambda a, b: a * b
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    scored = pairs.select(
        "qid",
        "cid",
        _dot(64).alias("dot64"),
        _dot(32).alias("dot32"),
        _dot(16).alias("dot16"),
        _dot(8).alias("dot8"),
    )
    tops = {}
    for d in (64, 32, 16, 8):
        w = Window.partitionBy("qid").orderBy(
            F.col(f"dot{d}").desc(), F.col("cid").asc()
        )
        tops[d] = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5)
            .select("qid", "cid")
        )
    out = None
    for d in (32, 16, 8):
        # LEFT join from the exact-top-5 spine so a tier whose top-5
        # shares nothing with the exact set still reports n_overlap=0
        # (the worst-fidelity rows are exactly the ones an inner join
        # would silently drop)
        hits = tops[d].withColumn("__hit", F.lit(1))
        ov = (
            tops[64]
            .join(hits, ["qid", "cid"], "left")
            .groupBy("qid")
            .agg(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("bigint")
                .alias("n_overlap")
            )
            .select("qid", F.lit(d).cast("int").alias("dim"), "n_overlap")
        )
        out = ov if out is None else out.unionByName(ov)
    return out


def _h48_sql(expr: str, salt: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}' || {expr}), 1, 12)) "
        "AS BIGINT)"
    )


def _q_weighted_priority_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sample: top-20 lineitems per return flag
    by smallest priority = h48/weight (quantity cents). Heavier rows
    draw smaller priorities more often, so inclusion odds grow with
    weight — the portable stand-in for Efraimidis-Spirakis A-ES
    (exactly-proportional odds need -ln(u)/w, and ln's last-bit
    engine differences could flip an order near ties; h/w is ONE
    correctly-rounded division, identical everywhere). Stable under
    retries/repartition like every hash decision here; at 100 TB the
    top-20-per-group is a WindowGroupLimit, never a full sort."""
    li = read_table(spark, sf, "lineitem")
    w_c = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("bigint")
    keyed = li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        w_c.alias("w_c"),
        (
            _h48(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                ),
                "wps:",
            ).cast("double")
            / w_c.cast("double")
        ).alias("priority"),
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("priority").asc(), F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select(
            "l_returnflag", "rank", "l_orderkey", "l_linenumber", "w_c",
            "priority",
        )
    )


def _q_qini_uplift(spark: SparkSession, sf: str) -> DataFrame:
    """Qini uplift curve for a targeting score: customers hash-split
    50/50 into treated/control ('exp7:' salt), scored by acctbal
    decile (ntile with custkey tiebreak), response = placed >= 1
    URGENT order. Per cumulative decile: treated/control sizes and
    responders, and the Qini value R_t(k) - R_c(k)*N_t(k)/N_c(k) —
    the area between this curve and the random-targeting diagonal is
    the campaign's incremental-response budget. Integer counts
    everywhere; ONE division and one multiply-subtract per decile in
    fixed order. Scales as one customer-grain reduction + one
    10-row frame."""
    cust = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    resp = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .withColumn("resp", F.lit(1))
    )
    arm = (_h48(F.col("c_custkey"), "exp7:") % 2).alias("treated")
    scored = (
        cust.select("c_custkey", "c_acctbal")
        .withColumn("treated", arm)
        .join(resp, cust["c_custkey"] == resp["o_custkey"], "left")
        .select(
            "c_custkey",
            "c_acctbal",
            "treated",
            F.coalesce(F.col("resp"), F.lit(0)).alias("resp"),
        )
    )
    dec = scored.withColumn(
        "decile",
        F.ntile(10).over(
            Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        ),
    )
    per_dec = dec.groupBy("decile").agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_t"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_c"),
        F.sum(F.when(F.col("treated") == 1, F.col("resp")).otherwise(0))
        .cast("bigint")
        .alias("r_t"),
        F.sum(F.when(F.col("treated") == 0, F.col("resp")).otherwise(0))
        .cast("bigint")
        .alias("r_c"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_dec.select(
        "decile",
        F.sum("n_t").over(wc).cast("bigint").alias("cn_t"),
        F.sum("n_c").over(wc).cast("bigint").alias("cn_c"),
        F.sum("r_t").over(wc).cast("bigint").alias("cr_t"),
        F.sum("r_c").over(wc).cast("bigint").alias("cr_c"),
    )
    qini = (
        F.col("cr_t").cast("double")
        - F.col("cr_c").cast("double")
        * (F.col("cn_t").cast("double") / F.col("cn_c").cast("double"))
    )
    return cum.select(
        "decile", "cn_t", "cn_c", "cr_t", "cr_c", qini.alias("qini")
    )


def _q_switchback(spark: SparkSession, sf: str) -> DataFrame:
    """Switchback experiment readout: time is sliced into 6-hour
    windows, each slice hash-assigned to an arm ('swb:' salt, parity),
    and the slice-level metric (event value sum, exact cents) is
    compared BY (arm, previous-slice arm) — the 4-cell table that
    separates the treatment effect from the carryover contamination a
    plain two-arm mean comparison hides (cells where prev_arm != arm
    are the boundary slices). Exact decimal sums; one division per
    cell. Scales as one slice-grain aggregate (bounded by the
    calendar) + a lag over the tiny slice frame."""
    ev = read_table(spark, sf, "events")
    # pure integer division (`div` == DuckDB `//`): 6h = 21600s of us
    sliced = ev.select(
        F.expr("unix_micros(ts) div 21600000000").alias("slice"),
        (F.col("value").cast("decimal(18,4)")).alias("v"),
    )
    per_slice = sliced.groupBy("slice").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("v").cast("decimal(38,4)").alias("v_sum"),
    )
    armed = per_slice.withColumn(
        "arm", (_h48(F.col("slice"), "swb:") % 2).cast("int")
    )
    lagw = Window.orderBy("slice")
    flows = armed.withColumn(
        "prev_arm", F.lag("arm").over(lagw)
    ).where(F.col("prev_arm").isNotNull())
    return flows.groupBy("arm", "prev_arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_slices"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        # exact decimal sum, ONE cast to double (_dsum convention —
        # raw decimal(38,4) values don't canonicalize across engines)
        F.sum("v_sum").cast("double").alias("v_sum"),
        (
            F.sum("v_sum").cast("double")
            / F.sum("n_events").cast("double")
        ).alias("mean_value"),
    )


def _q_t_closeness(spark: SparkSession, sf: str) -> DataFrame:
    """t-closeness audit (the third rung after q214 k-anonymity and
    q350 l-diversity): for each quasi-identifier group (nation x
    segment), the earth-mover's distance between the group's ordered
    sensitive-attribute distribution (5 acctbal bands) and the global
    one, using the ordered-EMD identity EMD = sum_k |cum_k| / (m-1)
    where cum_k = sum_{j<=k} (c_gj/n_g - C_j/N). Every cumulative
    term is brought to the COMMON denominator n_g*N so the numerators
    are exact integers; one decimal->double cast and ONE division per
    group. Groups whose EMD exceeds t=0.2 fail the audit. Scales as
    one (group, band) aggregate over bounded demographic cells."""
    cust = read_table(spark, sf, "customer")
    banded = cust.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "CAST(least(4, greatest(0, "
            "CAST(floor((c_acctbal + 1000.0) / 2500.0) AS INT))) AS INT)"
        ).alias("band"),
    )
    cells = banded.groupBy("nat", "seg", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wg = Window.partitionBy("nat", "seg")
    wb = Window.partitionBy("band")
    tot = cells.select(
        "nat",
        "seg",
        "band",
        "c",
        F.sum("c").over(wg).cast("bigint").alias("n_g"),
        F.sum("c").over(wb).cast("bigint").alias("c_band"),
    ).withColumn(
        "n_all",
        F.sum("c").over(Window.partitionBy()).cast("bigint"),
    )
    # cum_k numerator over bands 0..k at common denominator n_g*N:
    # N*cum(c) - n_g*cum(C_band)
    wcum = Window.partitionBy("nat", "seg").orderBy("band").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = tot.select(
        "nat",
        "seg",
        "band",
        "n_g",
        "n_all",
        (
            F.col("n_all") * F.sum("c").over(wcum)
            - F.col("n_g") * F.sum("c_band").over(wcum)
        )
        .cast("decimal(38,0)")
        .alias("num_k"),
    )
    per_group = cums.groupBy("nat", "seg").agg(
        F.max("n_g").alias("n_g"),
        F.sum(F.abs(F.col("num_k"))).cast("decimal(38,0)").alias(
            "sum_abs"
        ),
        F.max("n_all").alias("n_all"),
    )
    emd = F.col("sum_abs").cast("double") / (
        F.col("n_g") * F.col("n_all") * 4
    ).cast("double")
    return per_group.select(
        "nat",
        "seg",
        "n_g",
        emd.alias("emd"),
        (emd > 0.2).alias("t_violation"),
    )


def _q_iv_wald(spark: SparkSession, sf: str) -> DataFrame:
    """Instrumental-variable Wald estimator: a hash instrument z
    ('iv7:' over custkey — as-good-as-random by construction) with
    exposure x = customer's URGENT order count and outcome y =
    customer revenue (cents). Wald = (E[y|z=1]-E[y|z=0]) /
    (E[x|z=1]-E[x|z=0]); the first-stage denominator is reported
    alongside so a weak instrument is visible, not hidden. Exact
    decimal sums per arm; four divisions + one subtraction chain in
    fixed literal order (completes the causal family: q222 DiD, q360
    RDD, q355 CUPED, q515 jackknife). One customer-grain reduction,
    one 2-row frame."""
    cust = read_table(spark, sf, "customer").select("c_custkey")
    o = read_table(spark, sf, "orders")
    per_cust = (
        cust.join(o, cust["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("x"),
            F.coalesce(
                F.sum(
                    (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                    .cast("bigint")
                ),
                F.lit(0).cast("bigint"),
            ).alias("y_c"),
        )
        .withColumn("z", (_h48(F.col("c_custkey"), "iv7:") % 2).cast("int"))
    )
    arms = per_cust.groupBy("z").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y_c").cast("decimal(38,0)").alias("sy"),
    )
    one = arms.groupBy().agg(
        F.max(F.when(F.col("z") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("z") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("z") == 1, F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("z") == 0, F.col("sx"))).alias("sx0"),
        F.max(F.when(F.col("z") == 1, F.col("sy"))).alias("sy1"),
        F.max(F.when(F.col("z") == 0, F.col("sy"))).alias("sy0"),
    )
    ybar1 = F.col("sy1").cast("double") / F.col("n1").cast("double")
    ybar0 = F.col("sy0").cast("double") / F.col("n0").cast("double")
    xbar1 = F.col("sx1").cast("double") / F.col("n1").cast("double")
    xbar0 = F.col("sx0").cast("double") / F.col("n0").cast("double")
    return one.select(
        "n1",
        "n0",
        (ybar1 - ybar0).alias("itt_y"),
        (xbar1 - xbar0).alias("first_stage"),
        ((ybar1 - ybar0) / (xbar1 - xbar0)).alias("wald_late"),
    )


_BF_M = 4096  # bloom bits
_BF_K = 3  # hash functions


def _q_bloom_fpr_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Realized Bloom-filter false-positive audit: build an m=4096,
    k=3 Bloom set over the supplier keys (positions h48('bfi:'||key)
    mod m, i = 0..2), then probe every customer key that is NOT a
    member value and count probes whose k positions are all set.
    Reports bits_set/fill ratio and the realized FPR — the number the
    1-e^(-kn/m) formula only approximates (exp is libm, the measured
    rate is exact integers + ONE division). The explicit twin of the
    engine-internal runtime bloom pruning (q95/q315): this is how you
    SIZE the filter before trusting it at 100 TB. Scales as two
    bounded explodes + one distinct-position set + one semi-join
    count."""
    sup = read_table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("k")
    )
    cust = read_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("k")
    )

    def positions(df):
        return (
            df.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(_BF_K - 1))))
            .select(
                "k",
                "i",
                (
                    _h48(
                        F.concat(
                            F.lit("bf"),
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("k").cast("string"),
                        ),
                        "",
                    )
                    % _BF_M
                ).alias("pos"),
            )
        )

    bloom = positions(sup).select("pos").distinct()
    probes = cust.join(sup, "k", "left_anti")
    probe_pos = positions(probes)
    hits = (
        probe_pos.join(bloom, "pos")
        .groupBy("k")
        .agg(F.count_distinct("i").alias("n_set"))
        .where(F.col("n_set") == _BF_K)
    )
    n_probe = probes.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes")
    )
    n_fp = hits.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp")
    )
    n_bits = bloom.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("bits_set")
    )
    return (
        n_probe.crossJoin(n_fp)
        .crossJoin(n_bits)
        .select(
            "n_probes",
            "n_fp",
            "bits_set",
            (F.col("bits_set").cast("double") / F.lit(float(_BF_M))).alias(
                "fill_ratio"
            ),
            (
                F.col("n_fp").cast("double")
                / F.col("n_probes").cast("double")
            ).alias("fpr"),
        )
    )


register_many(
    {
        "q542_kmv_distinct": _q_kmv_distinct,
        "q543_rendezvous_shards": _q_rendezvous_shards,
        "q544_within_fe_slope": _q_within_fe_slope,
        "q545_dsir_reweight": _q_dsir_reweight,
        "q546_eoq_policy": _q_eoq_policy,
        "q547_matryoshka_overlap": _q_matryoshka_overlap,
    },
    {
        "q542_kmv_distinct": f"""
            WITH du AS (
              SELECT DISTINCT event_type, user_id FROM events
            ),
            hashed AS (
              SELECT event_type,
                {_h48_sql('CAST(user_id AS VARCHAR)', 'kmv:')} AS h
              FROM du
            ),
            ranked AS (
              SELECT event_type, h,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY h) AS BIGINT) AS rn
              FROM hashed
            ),
            per_type AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_exact,
                max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_hash
              FROM ranked GROUP BY event_type
            )
            SELECT event_type, n_exact, kth_hash,
              CASE WHEN n_exact < {_KMV_K}
                THEN CAST(n_exact AS DOUBLE)
                ELSE {_KMV_NUM!r} / CAST(kth_hash AS DOUBLE) END
                AS est_kmv,
              abs((CASE WHEN n_exact < {_KMV_K}
                THEN CAST(n_exact AS DOUBLE)
                ELSE {_KMV_NUM!r} / CAST(kth_hash AS DOUBLE) END)
                - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
                AS rel_err
            FROM per_type
        """,
        "q543_rendezvous_shards": f"""
            WITH s AS (
              SELECT c_custkey, u.s AS s,
                {_h48_sql("CAST(c_custkey AS VARCHAR) || ':' || CAST(u.s AS VARCHAR)", 'hrw:')}
                  AS h
              FROM customer,
                (SELECT unnest(generate_series(0, 12)) AS s) u
            ),
            picks AS (
              SELECT c_custkey,
                arg_max(CASE WHEN s < 12 THEN s END,
                        CASE WHEN s < 12 THEN h ELSE -1 END) AS shard_12,
                arg_max(s, h) AS shard_13
              FROM s GROUP BY c_custkey
            )
            SELECT shard_12, shard_13,
              CAST(count(*) AS BIGINT) AS n_keys
            FROM picks GROUP BY shard_12, shard_13
        """,
        "q544_within_fe_slope": """
            WITH daily AS (
              SELECT date_trunc('month', o_orderdate) AS m,
                CAST(o_orderdate AS DATE) AS d,
                CAST(count(*) AS BIGINT) AS x,
                CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS y
              FROM orders GROUP BY 1, 2
            ),
            per_m AS (
              SELECT m,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS DECIMAL(38,0)) AS sx,
                CAST(sum(y) AS DECIMAL(38,0)) AS sy,
                CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
                CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx
              FROM daily GROUP BY m
            ),
            terms AS (
              SELECT m, n,
                CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n AS DOUBLE)
                  AS txy,
                CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n AS DOUBLE)
                  AS txx
              FROM per_m
            ),
            folded AS (
              SELECT
                CAST(count(*) AS BIGINT) AS n_months,
                CAST(sum(n) AS BIGINT) AS n_days,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(txy ORDER BY m)), (a, b) -> a + b) AS sxy_w,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(txx ORDER BY m)), (a, b) -> a + b) AS sxx_w
              FROM terms
            )
            SELECT n_months, n_days, sxy_w, sxx_w,
              sxy_w / sxx_w AS slope_within
            FROM folded
        """,
        "q545_dsir_reweight": f"""
            WITH docs AS (
              SELECT doc_id, lang, n_chars // 100 AS bucket
              FROM documents
            ),
            per_bucket AS (
              SELECT lang, bucket,
                CAST(count(*) AS BIGINT) AS n_docs
              FROM docs GROUP BY 1, 2
            ),
            planned AS (
              SELECT lang, bucket, n_docs,
                CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
                  AS n_lang,
                CAST(count(*) OVER (PARTITION BY lang) AS BIGINT)
                  AS k_lang
              FROM per_bucket
            ),
            probs AS (
              SELECT lang, bucket, n_docs,
                least(CAST(1.0 AS DOUBLE),
                  CAST(n_lang AS DOUBLE)
                  / CAST(k_lang * n_docs AS DOUBLE)) AS p_keep
              FROM planned
            ),
            thr AS (
              SELECT lang, bucket, n_docs, p_keep,
                CAST(floor(p_keep * 281474976710656.0) AS BIGINT)
                  AS thr
              FROM probs
            ),
            kept AS (
              SELECT d.lang, d.bucket,
                CAST(count(*) AS BIGINT) AS n_kept
              FROM docs d JOIN thr t
                ON d.lang = t.lang AND d.bucket = t.bucket
              WHERE {_h48_sql('CAST(d.doc_id AS VARCHAR)', 'dsir:')}
                < t.thr
              GROUP BY 1, 2
            )
            SELECT t.lang, t.bucket, t.n_docs, t.p_keep,
              COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_kept
            FROM thr t LEFT JOIN kept k
              ON t.lang = k.lang AND t.bucket = k.bucket
        """,
        "q546_eoq_policy": """
            WITH daily AS (
              SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS d,
                CAST(sum(CAST(CAST(l.l_quantity AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS q_c,
                CAST(sum(CAST(CAST(p.p_retailprice AS DECIMAL(12,2))
                  * 100 AS BIGINT)) AS BIGINT) AS pr_c,
                CAST(count(*) AS BIGINT) AS n_lines
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              GROUP BY 1, 2
            ),
            agg AS (
              SELECT p_brand,
                CAST(count(*) AS BIGINT) AS n_days,
                CAST(sum(q_c) AS DECIMAL(38,0)) AS sq,
                CAST(sum(q_c * q_c) AS DECIMAL(38,0)) AS sqq,
                CAST(sum(pr_c) AS DECIMAL(38,0)) AS spr,
                CAST(sum(n_lines) AS BIGINT) AS n_lines
              FROM daily GROUP BY p_brand
            )
            SELECT p_brand, n_days,
              CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0
                * 365.0 AS d_annual,
              sqrt(CAST(n_days * sqq - sq * sq AS DOUBLE)
                / CAST(n_days * (n_days - 1) AS DOUBLE)) / 100.0
                AS sigma_daily,
              sqrt(2.0
                * (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)
                   / 100.0 * 365.0)
                * 100.0
                / (CAST(spr AS DOUBLE) / CAST(n_lines AS DOUBLE)
                   / 100.0 * 0.2)) AS eoq,
              1.645 * (sqrt(CAST(n_days * sqq - sq * sq AS DOUBLE)
                / CAST(n_days * (n_days - 1) AS DOUBLE)) / 100.0)
                * sqrt(7.0) AS safety_stock,
              (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0)
                * 7.0
                + 1.645 * (sqrt(CAST(n_days * sqq - sq * sq AS DOUBLE)
                  / CAST(n_days * (n_days - 1) AS DOUBLE)) / 100.0)
                  * sqrt(7.0) AS reorder_point
            FROM agg
        """,
        "q547_matryoshka_overlap": """
            WITH q AS (
              SELECT vec_id AS qid,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576)
                    AS BIGINT)) AS qv
              FROM embeddings WHERE vec_id < 10
            ),
            c AS (
              SELECT vec_id AS cid,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576)
                    AS BIGINT)) AS cv
              FROM embeddings
            ),
            scored AS (
              SELECT q.qid, c.cid,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> qv[i] * cv[i])) AS BIGINT) AS dot64,
                CAST(list_sum(list_transform(range(1, 33),
                  i -> qv[i] * cv[i])) AS BIGINT) AS dot32,
                CAST(list_sum(list_transform(range(1, 17),
                  i -> qv[i] * cv[i])) AS BIGINT) AS dot16,
                CAST(list_sum(list_transform(range(1, 9),
                  i -> qv[i] * cv[i])) AS BIGINT) AS dot8
              FROM q, c WHERE c.cid <> q.qid
            ),
            t64 AS (
              SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                  ORDER BY dot64 DESC, cid ASC) AS rn FROM scored)
              WHERE rn <= 5
            ),
            t32 AS (
              SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                  ORDER BY dot32 DESC, cid ASC) AS rn FROM scored)
              WHERE rn <= 5
            ),
            t16 AS (
              SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                  ORDER BY dot16 DESC, cid ASC) AS rn FROM scored)
              WHERE rn <= 5
            ),
            t8 AS (
              SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                  ORDER BY dot8 DESC, cid ASC) AS rn FROM scored)
              WHERE rn <= 5
            )
            SELECT a.qid, CAST(32 AS INT) AS dim,
              CAST(sum(CASE WHEN b.cid IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_overlap
            FROM t64 a LEFT JOIN t32 b
              ON a.qid = b.qid AND a.cid = b.cid
            GROUP BY a.qid
            UNION ALL
            SELECT a.qid, CAST(16 AS INT) AS dim,
              CAST(sum(CASE WHEN b.cid IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_overlap
            FROM t64 a LEFT JOIN t16 b
              ON a.qid = b.qid AND a.cid = b.cid
            GROUP BY a.qid
            UNION ALL
            SELECT a.qid, CAST(8 AS INT) AS dim,
              CAST(sum(CASE WHEN b.cid IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_overlap
            FROM t64 a LEFT JOIN t8 b
              ON a.qid = b.qid AND a.cid = b.cid
            GROUP BY a.qid
        """,
    },
)


register_many(
    {
        "q548_weighted_priority_sample": _q_weighted_priority_sample,
        "q549_qini_uplift": _q_qini_uplift,
        "q550_switchback": _q_switchback,
        "q551_t_closeness": _q_t_closeness,
        "q552_iv_wald": _q_iv_wald,
        "q553_bloom_fpr_audit": _q_bloom_fpr_audit,
    },
    {
        "q548_weighted_priority_sample": """
            WITH keyed AS (
              SELECT l_returnflag, l_orderkey, l_linenumber,
                CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS w_c,
                CAST(CAST(('0x' || substr(md5('wps:'
                    || CAST(l_orderkey AS VARCHAR) || '-'
                    || CAST(l_linenumber AS VARCHAR)), 1, 12))
                  AS BIGINT) AS DOUBLE)
                / CAST(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                  AS BIGINT) AS DOUBLE) AS priority
              FROM lineitem
            ),
            ranked AS (
              SELECT l_returnflag,
                CAST(row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY priority ASC, l_orderkey ASC,
                  l_linenumber ASC) AS INT) AS rank,
                l_orderkey, l_linenumber, w_c, priority
              FROM keyed
            )
            SELECT * FROM ranked WHERE rank <= 20
        """,
        "q549_qini_uplift": """
            WITH resp AS (
              SELECT DISTINCT o_custkey, 1 AS resp FROM orders
              WHERE o_orderpriority = '1-URGENT'
            ),
            scored AS (
              SELECT c.c_custkey, c.c_acctbal,
                CAST(('0x' || substr(md5('exp7:'
                  || CAST(c.c_custkey AS VARCHAR)), 1, 12)) AS BIGINT)
                  % 2 AS treated,
                COALESCE(r.resp, 0) AS resp
              FROM customer c LEFT JOIN resp r
                ON c.c_custkey = r.o_custkey
            ),
            dec AS (
              SELECT *, ntile(10) OVER (ORDER BY c_acctbal DESC,
                c_custkey) AS decile
              FROM scored
            ),
            per_dec AS (
              SELECT decile,
                CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_t,
                CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_c,
                CAST(sum(CASE WHEN treated = 1 THEN resp ELSE 0 END)
                  AS BIGINT) AS r_t,
                CAST(sum(CASE WHEN treated = 0 THEN resp ELSE 0 END)
                  AS BIGINT) AS r_c
              FROM dec GROUP BY decile
            ),
            cum AS (
              SELECT decile,
                CAST(sum(n_t) OVER w AS BIGINT) AS cn_t,
                CAST(sum(n_c) OVER w AS BIGINT) AS cn_c,
                CAST(sum(r_t) OVER w AS BIGINT) AS cr_t,
                CAST(sum(r_c) OVER w AS BIGINT) AS cr_c
              FROM per_dec
              WINDOW w AS (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT decile, cn_t, cn_c, cr_t, cr_c,
              CAST(cr_t AS DOUBLE) - CAST(cr_c AS DOUBLE)
                * (CAST(cn_t AS DOUBLE) / CAST(cn_c AS DOUBLE))
                AS qini
            FROM cum
        """,
        "q550_switchback": """
            WITH sliced AS (
              SELECT epoch_us(ts) // 21600000000 AS slice,
                CAST(value AS DECIMAL(18,4)) AS v
              FROM events
            ),
            per_slice AS (
              SELECT slice,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(v) AS DECIMAL(38,4)) AS v_sum
              FROM sliced GROUP BY slice
            ),
            armed AS (
              SELECT *,
                CAST(CAST(('0x' || substr(md5('swb:'
                  || CAST(slice AS VARCHAR)), 1, 12)) AS BIGINT) % 2
                  AS INT) AS arm
              FROM per_slice
            ),
            flows AS (
              SELECT arm, lag(arm) OVER (ORDER BY slice) AS prev_arm,
                n_events, v_sum
              FROM armed
            )
            SELECT arm, prev_arm,
              CAST(count(*) AS BIGINT) AS n_slices,
              CAST(sum(n_events) AS BIGINT) AS n_events,
              CAST(sum(v_sum) AS DOUBLE) AS v_sum,
              CAST(sum(v_sum) AS DOUBLE) / CAST(sum(n_events) AS DOUBLE)
                AS mean_value
            FROM flows WHERE prev_arm IS NOT NULL
            GROUP BY arm, prev_arm
        """,
        "q551_t_closeness": """
            WITH banded AS (
              SELECT c_nationkey AS nat, c_mktsegment AS seg,
                CAST(least(4, greatest(0,
                  CAST(floor((c_acctbal + 1000.0) / 2500.0) AS INT)))
                  AS INT) AS band
              FROM customer
            ),
            cells AS (
              SELECT nat, seg, band,
                CAST(count(*) AS BIGINT) AS c
              FROM banded GROUP BY 1, 2, 3
            ),
            tot AS (
              SELECT nat, seg, band, c,
                CAST(sum(c) OVER (PARTITION BY nat, seg) AS BIGINT)
                  AS n_g,
                CAST(sum(c) OVER (PARTITION BY band) AS BIGINT)
                  AS c_band,
                CAST(sum(c) OVER () AS BIGINT) AS n_all
              FROM cells
            ),
            cums AS (
              SELECT nat, seg, band, n_g, n_all,
                CAST(n_all * sum(c) OVER w
                  - n_g * sum(c_band) OVER w AS DECIMAL(38,0))
                  AS num_k
              FROM tot
              WINDOW w AS (PARTITION BY nat, seg ORDER BY band
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            per_group AS (
              SELECT nat, seg,
                max(n_g) AS n_g,
                CAST(sum(abs(num_k)) AS DECIMAL(38,0)) AS sum_abs,
                max(n_all) AS n_all
              FROM cums GROUP BY nat, seg
            )
            SELECT nat, seg, n_g,
              CAST(sum_abs AS DOUBLE)
                / CAST(n_g * n_all * 4 AS DOUBLE) AS emd,
              (CAST(sum_abs AS DOUBLE)
                / CAST(n_g * n_all * 4 AS DOUBLE)) > 0.2
                AS t_violation
            FROM per_group
        """,
        "q552_iv_wald": """
            WITH per_cust AS (
              SELECT c.c_custkey,
                CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
                COALESCE(CAST(sum(CAST(CAST(o.o_totalprice
                  AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT),
                  CAST(0 AS BIGINT)) AS y_c
              FROM customer c LEFT JOIN orders o
                ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            ),
            z AS (
              SELECT *,
                CAST(CAST(('0x' || substr(md5('iv7:'
                  || CAST(c_custkey AS VARCHAR)), 1, 12)) AS BIGINT)
                  % 2 AS INT) AS z
              FROM per_cust
            ),
            arms AS (
              SELECT z,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y_c) AS DECIMAL(38,0)) AS sy
              FROM z GROUP BY z
            ),
            one AS (
              SELECT
                max(CASE WHEN z = 1 THEN n END) AS n1,
                max(CASE WHEN z = 0 THEN n END) AS n0,
                max(CASE WHEN z = 1 THEN sx END) AS sx1,
                max(CASE WHEN z = 0 THEN sx END) AS sx0,
                max(CASE WHEN z = 1 THEN sy END) AS sy1,
                max(CASE WHEN z = 0 THEN sy END) AS sy0
              FROM arms
            )
            SELECT n1, n0,
              (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS itt_y,
              (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                AS first_stage,
              (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
              / (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                AS wald_late
            FROM one
        """,
        "q553_bloom_fpr_audit": """
            WITH member_pos AS (
              SELECT DISTINCT
                CAST(('0x' || substr(md5('bf' || CAST(u.i AS VARCHAR)
                  || ':' || CAST(s.s_suppkey AS VARCHAR)), 1, 12))
                  AS BIGINT) % 4096 AS pos
              FROM supplier s,
                (SELECT unnest(generate_series(0, 2)) AS i) u
            ),
            probes AS (
              SELECT c.c_custkey AS k FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                WHERE s.s_suppkey = c.c_custkey)
            ),
            probe_pos AS (
              SELECT p.k, u.i,
                CAST(('0x' || substr(md5('bf' || CAST(u.i AS VARCHAR)
                  || ':' || CAST(p.k AS VARCHAR)), 1, 12))
                  AS BIGINT) % 4096 AS pos
              FROM probes p,
                (SELECT unnest(generate_series(0, 2)) AS i) u
            ),
            hits AS (
              SELECT pp.k
              FROM probe_pos pp JOIN member_pos mp ON pp.pos = mp.pos
              GROUP BY pp.k
              HAVING count(DISTINCT pp.i) = 3
            )
            SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM probes)
                AS n_probes,
              (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_fp,
              (SELECT CAST(count(*) AS BIGINT) FROM member_pos)
                AS bits_set,
              (SELECT CAST(count(*) AS BIGINT) FROM member_pos)
                / 4096.0 AS fill_ratio,
              CAST((SELECT count(*) FROM hits) AS DOUBLE)
                / CAST((SELECT count(*) FROM probes) AS DOUBLE)
                AS fpr
        """,
    },
)


def _q_weak_labels(spark: SparkSession, sf: str) -> DataFrame:
    """Weak-supervision label model (Snorkel-lite) over documents:
    three labeling functions (length > 250 chars, > 40 words,
    lang == 'en') vote on a 'quality' label; majority vote is the
    first-pass label; each LF's empirical accuracy against the
    majority re-weights a second vote, and the report counts how many
    docs the weighted model flips. The vote space has only 2^3 = 8
    patterns, so after one doc-grain map the ENTIRE model fits in an
    8-cell frame — accuracies, weighted re-vote, and flip counts are
    all algebra over those cells (never a per-doc collect; the shape
    survives 100 TB unchanged). Integer counts; three accuracy
    divisions; the weighted comparison is a fixed-order 3-term IEEE
    sum."""
    docs = read_table(spark, sf, "documents")
    voted = docs.select(
        F.when(F.col("n_chars") > 250, 1).otherwise(0).alias("v1"),
        F.when(
            F.size(F.split(F.trim(F.col("text")), r"\s+")) > 40, 1
        )
        .otherwise(0)
        .alias("v2"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("v3"),
    ).withColumn(
        "maj",
        F.when(
            F.col("v1") + F.col("v2") + F.col("v3") >= 2, 1
        ).otherwise(0),
    )
    cells = voted.groupBy("v1", "v2", "v3", "maj").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    g = cells.groupBy().agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum(F.col("n") * F.col("maj")).cast("bigint").alias("n_major_pos"),
        F.sum(F.when(F.col("v1") == F.col("maj"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("a1"),
        F.sum(F.when(F.col("v2") == F.col("maj"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("a2"),
        F.sum(F.when(F.col("v3") == F.col("maj"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("a3"),
        F.collect_list(
            F.struct(
                F.col("v1"), F.col("v2"), F.col("v3"), F.col("maj"),
                F.col("n"),
            )
        ).alias("__cells"),
    )
    acc1 = F.col("a1").cast("double") / F.col("n_docs").cast("double")
    acc2 = F.col("a2").cast("double") / F.col("n_docs").cast("double")
    acc3 = F.col("a3").cast("double") / F.col("n_docs").cast("double")
    pos_w = (
        lambda e: e["v1"].cast("double") * acc1
        + e["v2"].cast("double") * acc2
        + e["v3"].cast("double") * acc3
    )
    neg_w = (
        lambda e: (1 - e["v1"]).cast("double") * acc1
        + (1 - e["v2"]).cast("double") * acc2
        + (1 - e["v3"]).cast("double") * acc3
    )
    return g.select(
        "n_docs",
        "n_major_pos",
        acc1.alias("acc_len"),
        acc2.alias("acc_words"),
        acc3.alias("acc_lang"),
        F.aggregate(
            F.col("__cells"),
            F.lit(0).cast("bigint"),
            lambda acc, e: acc
            + F.when(pos_w(e) > neg_w(e), e["n"]).otherwise(0).cast(
                "bigint"
            ),
        ).alias("n_weighted_pos"),
        F.aggregate(
            F.col("__cells"),
            F.lit(0).cast("bigint"),
            lambda acc, e: acc
            + F.when(
                (
                    F.when(pos_w(e) > neg_w(e), 1).otherwise(0)
                    != e["maj"]
                ),
                e["n"],
            )
            .otherwise(0)
            .cast("bigint"),
        ).alias("n_flipped"),
    )


def _q_lsh_recall_audit(spark: SparkSession, sf: str) -> DataFrame:
    """The engine audits its own ANN tier: exact inverted-index
    Jaccard (q19 machinery) vs banded MinHash LSH (q20 machinery), run
    at identical parameters (threshold 0.35, 2-word shingles, 16
    hashes / 8 bands) over the dedup representatives — reporting truth
    pairs, LSH pairs, their intersection, and recall. Verification
    inside minhash_pairs is exact, so precision is 1.0 by construction
    and recall is THE number that needs watching (band-collision
    S-curve ~s^2 per band at 16/8). Integer counts, one division."""
    from sensor_time_series_pyspark_spark.operators.dedup import (
        jaccard_pairs,
        minhash_pairs,
    )
    from sensor_time_series_pyspark_spark.queries.common import _rep_docs

    reps = _rep_docs(spark, sf)
    truth = jaccard_pairs(
        reps, "doc_id", "text", threshold=0.35, shingle_k=2
    ).select("id_a", "id_b")
    lsh = minhash_pairs(
        reps, "doc_id", "text", threshold=0.35, shingle_k=2,
        n_hashes=16, n_bands=8,
    ).select("id_a", "id_b")
    common = truth.join(lsh, ["id_a", "id_b"])
    nt = truth.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth")
    )
    nl = lsh.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lsh")
    )
    nc = common.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    return (
        nt.crossJoin(nl)
        .crossJoin(nc)
        .select(
            "n_truth",
            "n_lsh",
            "n_common",
            (
                F.col("n_common").cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
        )
    )


# O'Brien-Fleming two-sided 0.05 boundaries for K=3 equally-spaced looks
_OBF_BOUNDS = (3.471, 2.454, 2.004)


def _q_group_sequential(spark: SparkSession, sf: str) -> DataFrame:
    """Group-sequential experiment monitor: users hash-split 50/50
    ('gsq:'), metric = event value (cents); three looks at days 10/20/
    30 compare arms with a pooled-variance z statistic against the
    O'Brien-Fleming boundaries (3.471/2.454/2.004, literal) — the
    peeking-safe alternative to re-testing daily at 1.96. Exact
    integer moments per (look, arm); variance, z, and the boundary
    comparison are fixed-order IEEE ops. One event-grain reduce per
    look (expressed as one scan with conditional sums)."""
    ev = read_table(spark, sf, "events")
    base = ev.select(
        (_h48(F.col("user_id"), "gsq:") % 2).alias("t"),
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v_c"),
        F.dayofmonth("ts").alias("dom"),
    )
    looks = []
    for i, cut in enumerate((10, 20, 30)):
        cond = F.col("dom") <= cut
        agg = base.where(cond).groupBy().agg(
            F.sum(F.when(F.col("t") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_t"),
            F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_c"),
            F.sum(F.when(F.col("t") == 1, F.col("v_c")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("s_t"),
            F.sum(F.when(F.col("t") == 0, F.col("v_c")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("s_c"),
            F.sum(
                F.when(F.col("t") == 1, F.col("v_c") * F.col("v_c"))
                .otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("ss_t"),
            F.sum(
                F.when(F.col("t") == 0, F.col("v_c") * F.col("v_c"))
                .otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("ss_c"),
        )
        looks.append(
            agg.select(
                F.lit(i + 1).cast("int").alias("look"),
                F.lit(cut).cast("int").alias("day_cut"),
                "n_t", "n_c", "s_t", "s_c", "ss_t", "ss_c",
            )
        )
    allx = looks[0].unionByName(looks[1]).unionByName(looks[2])
    mt = F.col("s_t").cast("double") / F.col("n_t").cast("double")
    mc = F.col("s_c").cast("double") / F.col("n_c").cast("double")
    var_t = (
        (F.col("n_t") * F.col("ss_t") - F.col("s_t") * F.col("s_t"))
        .cast("double")
        / (F.col("n_t") * (F.col("n_t") - 1)).cast("double")
    )
    var_c = (
        (F.col("n_c") * F.col("ss_c") - F.col("s_c") * F.col("s_c"))
        .cast("double")
        / (F.col("n_c") * (F.col("n_c") - 1)).cast("double")
    )
    se = F.sqrt(
        var_t / F.col("n_t").cast("double")
        + var_c / F.col("n_c").cast("double")
    )
    z = (mt - mc) / se
    bound = (
        F.when(F.col("look") == 1, F.lit(_OBF_BOUNDS[0]))
        .when(F.col("look") == 2, F.lit(_OBF_BOUNDS[1]))
        .otherwise(F.lit(_OBF_BOUNDS[2]))
    )
    return allx.select(
        "look",
        "day_cut",
        "n_t",
        "n_c",
        z.alias("z"),
        bound.alias("boundary"),
        (F.abs(z) > bound).alias("crossed"),
    )


def _q_retention_triangle(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the week of their
    FIRST event; for each (cohort_week, week_offset) cell, the share
    of the cohort active that week. Weeks are pure integer epoch-day
    division (`div 7` — identical truncation in both engines); one
    user-grain min, one (user, week) distinct, one cell aggregate +
    broadcast cohort sizes; a single division per cell. The first
    dashboard any growth team asks for."""
    ev = read_table(spark, sf, "events")
    uw = ev.select(
        "user_id",
        F.expr("CAST(datediff(to_date(ts), DATE '1970-01-05') div 7 AS BIGINT)")
        .alias("week"),
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    cells = (
        uw.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


def _q_bandit_replay(spark: SparkSession, sf: str) -> DataFrame:
    """Offline bandit replay (Li et al. evaluation): each day, a
    greedy policy picks the event_type arm with the best cumulative
    mean value over all PRIOR days (ties -> smallest arm name; day 1
    has no history and is skipped), and the logged events of that day
    whose type matches the policy's choice are 'replayed' — their
    count and mean value estimate the policy's online performance
    without ever running it. Day x arm spine is a constant-cardinality
    frame; cumulative sums are exact integers; mean comparisons are
    identical correctly-rounded divisions in both engines, resolved
    by max + min-arm-on-tie (no argmax-on-double ambiguity)."""
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), F.col("event_type").alias("arm")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
        ).alias("s_c"),
    )
    days = daily.select("d").distinct()
    arms = daily.select("arm").distinct()
    spine = days.crossJoin(arms)
    grid = spine.join(daily, ["d", "arm"], "left").select(
        "d",
        "arm",
        F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n"),
        F.coalesce(F.col("s_c"), F.lit(0).cast("bigint")).alias("s_c"),
    )
    wprev = (
        Window.partitionBy("arm")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = grid.select(
        "d",
        "arm",
        "n",
        "s_c",
        F.sum("n").over(wprev).alias("cn"),
        F.sum("s_c").over(wprev).alias("cs"),
    ).where(F.col("cn").isNotNull() & (F.col("cn") > 0))
    scored = hist.withColumn(
        "cum_mean", F.col("cs").cast("double") / F.col("cn").cast("double")
    )
    wd = Window.partitionBy("d")
    best = scored.withColumn(
        "mmax", F.max("cum_mean").over(wd)
    ).where(F.col("cum_mean") == F.col("mmax"))
    policy = (
        best.groupBy("d")
        .agg(F.min("arm").alias("policy_arm"))
        .select(F.col("d").alias("p_d"), "policy_arm")
    )
    # re-read the day x arm reduction under a fresh alias: `daily`
    # already feeds policy upstream and Spark (rightly) rejects the
    # ambiguous self-reference otherwise
    matched = daily.select(
        F.col("d").alias("m_d"),
        F.col("arm").alias("m_arm"),
        F.col("n").alias("m_n"),
        F.col("s_c").alias("m_s_c"),
    )
    replay = policy.join(
        matched,
        (F.col("p_d") == F.col("m_d"))
        & (F.col("m_arm") == F.col("policy_arm")),
        "left",
    ).select(
        F.col("p_d").alias("day"),
        "policy_arm",
        F.coalesce(F.col("m_n"), F.lit(0).cast("bigint")).alias(
            "n_matched"
        ),
        F.when(
            F.col("m_n").isNotNull(),
            F.col("m_s_c").cast("double") / F.col("m_n").cast("double")
            / F.lit(100.0),
        ).alias("mean_matched_value"),
    )
    return replay


def _q_hierarchical_heavy(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical heavy hitters over the revenue rollup tree
    (total -> nation -> market segment within nation): an entity is
    reported when its exact integer revenue exceeds a fixed share of
    its PARENT (5% cross-multiplication — rev*100 > parent*5 in
    decimal(38,0), never a float threshold). The drill-down view ops
    teams use to find which cell moved a topline metric; each level is
    one aggregate over the previous level's grain. Share is reported
    as ONE final division per row."""
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    rev = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey", "c_mktsegment")),
            o["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("bigint")
            )
            .cast("decimal(38,0)")
            .alias("rev_c")
        )
    )
    nat = rev.groupBy("n_name").agg(
        F.sum("rev_c").cast("decimal(38,0)").alias("rev_c")
    )
    tot = nat.groupBy().agg(
        F.sum("rev_c").cast("decimal(38,0)").alias("rev_c")
    )
    nat_h = (
        nat.crossJoin(F.broadcast(tot.select(F.col("rev_c").alias("parent_c"))))
        .where(F.col("rev_c") * 100 > F.col("parent_c") * 5)
        .select(
            F.lit("nation").alias("level"),
            F.col("n_name").alias("key1"),
            F.lit(None).cast("string").alias("key2"),
            F.col("rev_c").cast("bigint").alias("rev_c"),
            F.col("parent_c").cast("bigint").alias("parent_c"),
        )
    )
    seg_h = (
        rev.join(
            F.broadcast(nat.select(F.col("n_name"), F.col("rev_c").alias("parent_c"))),
            "n_name",
        )
        .where(F.col("rev_c") * 100 > F.col("parent_c") * 5)
        .select(
            F.lit("nation_segment").alias("level"),
            F.col("n_name").alias("key1"),
            F.col("c_mktsegment").alias("key2"),
            F.col("rev_c").cast("bigint").alias("rev_c"),
            F.col("parent_c").cast("bigint").alias("parent_c"),
        )
    )
    out = nat_h.unionByName(seg_h)
    return out.select(
        "level",
        "key1",
        "key2",
        "rev_c",
        "parent_c",
        (
            F.col("rev_c").cast("double") / F.col("parent_c").cast("double")
        ).alias("share"),
    )


def _lsh_truth_sql() -> str:
    """q19-style exact inverted-index Jaccard at q20's parameters
    (2-word shingles, threshold 0.35, dedup representatives)."""
    return """
        WITH reps AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        ),
        toks AS (
          SELECT doc_id AS id,
            list_distinct(
              list_transform(
                generate_series(1, greatest(len(t) - 1, 0)),
                i -> array_to_string(t[i:i+1], ' ')
              )
            ) AS tok
          FROM (
            SELECT doc_id,
              list_filter(string_split_regex(trim(text), '\\s+'),
                x -> x <> '') AS t
            FROM reps
          )
        ),
        inv AS (
          SELECT id, len(tok) AS n_tok, unnest(tok) AS token FROM toks
        ),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b, a.n_tok AS n_a,
                 b.n_tok AS n_b, count(*) AS inter
          FROM inv a JOIN inv b ON a.token = b.token AND a.id < b.id
          GROUP BY 1, 2, 3, 4
        )
        SELECT id_a, id_b
        FROM pairs WHERE inter / (n_a + n_b - inter) >= 0.35
    """


def _q555_oracle() -> str:
    from sensor_time_series_pyspark_spark.queries.registry import ORACLE_SQL

    q20 = ORACLE_SQL["q20_minhash_lsh"]
    return f"""
        WITH truth AS ({_lsh_truth_sql()}),
        lsh AS (SELECT id_a, id_b FROM ({q20})),
        common AS (
          SELECT t.id_a FROM truth t
          JOIN lsh l ON t.id_a = l.id_a AND t.id_b = l.id_b
        )
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
          (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
          (SELECT CAST(count(*) AS BIGINT) FROM common) AS n_common,
          CAST((SELECT count(*) FROM common) AS DOUBLE)
            / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall
    """


register_many(
    {
        "q554_weak_labels": _q_weak_labels,
        "q555_lsh_recall_audit": _q_lsh_recall_audit,
        "q556_group_sequential": _q_group_sequential,
        "q557_retention_triangle": _q_retention_triangle,
        "q558_bandit_replay": _q_bandit_replay,
        "q559_hierarchical_heavy": _q_hierarchical_heavy,
    },
    {
        "q554_weak_labels": """
            WITH voted AS (
              SELECT
                CASE WHEN n_chars > 250 THEN 1 ELSE 0 END AS v1,
                CASE WHEN len(list_filter(string_split_regex(
                  trim(text), '\\s+'), x -> x <> '')) > 40
                  THEN 1 ELSE 0 END AS v2,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS v3
              FROM documents
            ),
            voted2 AS (
              SELECT *, CASE WHEN v1 + v2 + v3 >= 2 THEN 1 ELSE 0 END
                AS maj
              FROM voted
            ),
            cells AS (
              SELECT v1, v2, v3, maj,
                CAST(count(*) AS BIGINT) AS n
              FROM voted2 GROUP BY 1, 2, 3, 4
            ),
            g AS (
              SELECT
                CAST(sum(n) AS BIGINT) AS n_docs,
                CAST(sum(n * maj) AS BIGINT) AS n_major_pos,
                CAST(sum(CASE WHEN v1 = maj THEN n ELSE 0 END)
                  AS BIGINT) AS a1,
                CAST(sum(CASE WHEN v2 = maj THEN n ELSE 0 END)
                  AS BIGINT) AS a2,
                CAST(sum(CASE WHEN v3 = maj THEN n ELSE 0 END)
                  AS BIGINT) AS a3
              FROM cells
            ),
            scored AS (
              SELECT c.maj, c.n,
                (CAST(c.v1 AS DOUBLE)
                   * (CAST(g.a1 AS DOUBLE) / CAST(g.n_docs AS DOUBLE))
                 + CAST(c.v2 AS DOUBLE)
                   * (CAST(g.a2 AS DOUBLE) / CAST(g.n_docs AS DOUBLE))
                 + CAST(c.v3 AS DOUBLE)
                   * (CAST(g.a3 AS DOUBLE) / CAST(g.n_docs AS DOUBLE)))
                >
                (CAST(1 - c.v1 AS DOUBLE)
                   * (CAST(g.a1 AS DOUBLE) / CAST(g.n_docs AS DOUBLE))
                 + CAST(1 - c.v2 AS DOUBLE)
                   * (CAST(g.a2 AS DOUBLE) / CAST(g.n_docs AS DOUBLE))
                 + CAST(1 - c.v3 AS DOUBLE)
                   * (CAST(g.a3 AS DOUBLE) / CAST(g.n_docs AS DOUBLE)))
                AS pos
              FROM cells c, g
            )
            SELECT g.n_docs, g.n_major_pos,
              CAST(g.a1 AS DOUBLE) / CAST(g.n_docs AS DOUBLE)
                AS acc_len,
              CAST(g.a2 AS DOUBLE) / CAST(g.n_docs AS DOUBLE)
                AS acc_words,
              CAST(g.a3 AS DOUBLE) / CAST(g.n_docs AS DOUBLE)
                AS acc_lang,
              (SELECT CAST(sum(CASE WHEN pos THEN n ELSE 0 END)
                AS BIGINT) FROM scored) AS n_weighted_pos,
              (SELECT CAST(sum(CASE WHEN
                (CASE WHEN pos THEN 1 ELSE 0 END) <> maj
                THEN n ELSE 0 END) AS BIGINT) FROM scored)
                AS n_flipped
            FROM g
        """,
        "q555_lsh_recall_audit": _q555_oracle(),
        "q556_group_sequential": """
            WITH base AS (
              SELECT
                CAST(('0x' || substr(md5('gsq:'
                  || CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2
                  AS t,
                CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS v_c,
                CAST(extract(day FROM ts) AS INT) AS dom
              FROM events
            ),
            looks AS (
              SELECT u.look, u.day_cut,
                CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_t,
                CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_c,
                CAST(sum(CASE WHEN t = 1 THEN v_c ELSE 0 END)
                  AS DECIMAL(38,0)) AS s_t,
                CAST(sum(CASE WHEN t = 0 THEN v_c ELSE 0 END)
                  AS DECIMAL(38,0)) AS s_c,
                CAST(sum(CASE WHEN t = 1 THEN v_c * v_c ELSE 0 END)
                  AS DECIMAL(38,0)) AS ss_t,
                CAST(sum(CASE WHEN t = 0 THEN v_c * v_c ELSE 0 END)
                  AS DECIMAL(38,0)) AS ss_c
              FROM base,
                (SELECT * FROM (VALUES (CAST(1 AS INT), CAST(10 AS INT)),
                  (CAST(2 AS INT), CAST(20 AS INT)),
                  (CAST(3 AS INT), CAST(30 AS INT)))
                  AS v(look, day_cut)) u
              WHERE base.dom <= u.day_cut
              GROUP BY u.look, u.day_cut
            ),
            z AS (
              SELECT look, day_cut, n_t, n_c,
                (CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                 - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE))
                / sqrt(
                    (CAST(n_t * ss_t - s_t * s_t AS DOUBLE)
                     / CAST(n_t * (n_t - 1) AS DOUBLE))
                    / CAST(n_t AS DOUBLE)
                  + (CAST(n_c * ss_c - s_c * s_c AS DOUBLE)
                     / CAST(n_c * (n_c - 1) AS DOUBLE))
                    / CAST(n_c AS DOUBLE)
                  ) AS z,
                CASE look WHEN 1 THEN 3.471e0 WHEN 2 THEN 2.454e0
                  ELSE 2.004e0 END AS boundary
              FROM looks
            )
            SELECT look, day_cut, n_t, n_c, z, boundary,
              abs(z) > boundary AS crossed
            FROM z
        """,
        "q557_retention_triangle": """
            WITH uw AS (
              SELECT DISTINCT user_id,
                CAST((CAST(ts AS DATE) - DATE '1970-01-05') // 7
                  AS BIGINT) AS week
              FROM events
            ),
            first AS (
              SELECT user_id, min(week) AS cohort_week
              FROM uw GROUP BY user_id
            ),
            sizes AS (
              SELECT cohort_week,
                CAST(count(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY cohort_week
            ),
            cells AS (
              SELECT f.cohort_week, u.week - f.cohort_week
                AS week_offset,
                CAST(count(*) AS BIGINT) AS n_active
              FROM uw u JOIN first f ON u.user_id = f.user_id
              GROUP BY 1, 2
            )
            SELECT c.cohort_week, c.week_offset, c.n_active,
              s.cohort_size,
              CAST(c.n_active AS DOUBLE)
                / CAST(s.cohort_size AS DOUBLE) AS retention
            FROM cells c JOIN sizes s
              ON c.cohort_week = s.cohort_week
        """,
        "q558_bandit_replay": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS d, event_type AS arm,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS s_c
              FROM events GROUP BY 1, 2
            ),
            spine AS (
              SELECT d.d, a.arm
              FROM (SELECT DISTINCT d FROM daily) d,
                   (SELECT DISTINCT arm FROM daily) a
            ),
            grid AS (
              SELECT s.d, s.arm,
                COALESCE(dl.n, CAST(0 AS BIGINT)) AS n,
                COALESCE(dl.s_c, CAST(0 AS BIGINT)) AS s_c
              FROM spine s LEFT JOIN daily dl
                ON s.d = dl.d AND s.arm = dl.arm
            ),
            hist AS (
              SELECT d, arm, n, s_c,
                sum(n) OVER w AS cn, sum(s_c) OVER w AS cs
              FROM grid
              WINDOW w AS (PARTITION BY arm ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            scored AS (
              SELECT d, arm,
                CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) AS cum_mean
              FROM hist WHERE cn IS NOT NULL AND cn > 0
            ),
            best AS (
              SELECT d, arm, cum_mean,
                max(cum_mean) OVER (PARTITION BY d) AS mmax
              FROM scored
            ),
            policy AS (
              SELECT d, min(arm) AS policy_arm
              FROM best WHERE cum_mean = mmax GROUP BY d
            )
            SELECT p.d AS day, p.policy_arm,
              COALESCE(dl.n, CAST(0 AS BIGINT)) AS n_matched,
              CASE WHEN dl.n IS NOT NULL THEN
                CAST(dl.s_c AS DOUBLE) / CAST(dl.n AS DOUBLE) / 100.0
              END AS mean_matched_value
            FROM policy p LEFT JOIN daily dl
              ON p.d = dl.d AND dl.arm = p.policy_arm
        """,
        "q559_hierarchical_heavy": """
            WITH rev AS (
              SELECT n.n_name, c.c_mktsegment,
                CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                  * 100 AS BIGINT)) AS DECIMAL(38,0)) AS rev_c
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              GROUP BY 1, 2
            ),
            nat AS (
              SELECT n_name, CAST(sum(rev_c) AS DECIMAL(38,0))
                AS rev_c
              FROM rev GROUP BY n_name
            ),
            tot AS (
              SELECT CAST(sum(rev_c) AS DECIMAL(38,0)) AS rev_c
              FROM nat
            ),
            nat_h AS (
              SELECT 'nation' AS level, n.n_name AS key1,
                CAST(NULL AS VARCHAR) AS key2,
                CAST(n.rev_c AS BIGINT) AS rev_c,
                CAST(t.rev_c AS BIGINT) AS parent_c
              FROM nat n, tot t
              WHERE CAST(n.rev_c AS HUGEINT) * 100
                > CAST(t.rev_c AS HUGEINT) * 5
            ),
            seg_h AS (
              SELECT 'nation_segment' AS level, r.n_name AS key1,
                r.c_mktsegment AS key2,
                CAST(r.rev_c AS BIGINT) AS rev_c,
                CAST(n.rev_c AS BIGINT) AS parent_c
              FROM rev r JOIN nat n ON r.n_name = n.n_name
              WHERE CAST(r.rev_c AS HUGEINT) * 100
                > CAST(n.rev_c AS HUGEINT) * 5
            ),
            unioned AS (
              SELECT * FROM nat_h UNION ALL SELECT * FROM seg_h
            )
            SELECT level, key1, key2, rev_c, parent_c,
              CAST(rev_c AS DOUBLE) / CAST(parent_c AS DOUBLE)
                AS share
            FROM unioned
        """,
    },
)


def _q_expectation_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data-contract audit (operators/expectations.py —
    the Great-Expectations pattern): six expectations over orders
    (row-count band, zero null prices, unique order keys, key span
    covering the row count — NOT gap-free: monotonic_id only bounds
    max-min+1 >= n — accepted status values, price range) compiled
    into ONE
    conditional aggregate + one exploded projection — the suite costs
    a single map-side-combinable pass no matter how many checks it
    holds. Audit rows are integer counts with at most one division,
    so the whole report hash-gates."""
    from sensor_time_series_pyspark_spark.operators import (
        accepted_values,
        between,
        monotonic_id,
        not_null,
        row_count_between,
        run_expectations,
        unique,
    )

    o = read_table(spark, sf, "orders")
    suite = [
        row_count_between("rows_in_band", 100, 10**9),
        not_null("price_not_null", "o_totalprice", 0.0),
        unique("orderkey_unique", "o_orderkey"),
        accepted_values("status_domain", "o_orderstatus", ("F", "O", "P")),
        between("price_range", "o_totalprice", 0.0, 1_000_000.0, 0.0),
        monotonic_id("orderkey_span", "o_orderkey"),
    ]
    return run_expectations(o, suite)


def _q_golden_record(spark: SparkSession, sf: str) -> DataFrame:
    """Survivorship consolidation (the MDM 'golden record' op): per
    duplicate cluster (identical text), merge the copies into one
    record by explicit field rules — keep the lowest doc_id as
    identity, the cluster's modal language (ties -> smallest code,
    resolved by max-count-then-min-lang, never an arbitrary first()),
    the max n_chars, and the lexicographically first source. Two
    bounded aggregates (cluster x lang, then cluster); at 100 TB the
    shuffle key is the content fingerprint, exactly like q17."""
    docs = read_table(spark, sf, "documents")
    base = docs.select(
        F.md5("text").alias("fp"), "doc_id", "lang", "source", "n_chars"
    )
    per_lang = base.groupBy("fp", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("nl")
    )
    wl = Window.partitionBy("fp")
    modal = (
        per_lang.withColumn("mx", F.max("nl").over(wl))
        .where(F.col("nl") == F.col("mx"))
        .groupBy("fp")
        .agg(F.min("lang").alias("modal_lang"))
    )
    merged = base.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
        F.max("n_chars").cast("bigint").alias("n_chars_max"),
        F.min("source").alias("first_source"),
    )
    return merged.join(modal, "fp").select(
        "fp", "n_copies", "keep_doc_id", "modal_lang", "n_chars_max",
        "first_source",
    )


def _q_minhash_estimate_error(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-accuracy audit at pair grain: for every TRUE near-dup
    pair (exact Jaccard >= 0.35 over 2-word shingles of the dedup
    reps), compare the MinHash ESTIMATE (matching components / 16,
    same seeded affine permutations as q20) against the exact value.
    est is a 16-denominator rational -> exact double; the exact
    jaccard is the same single division both engines compute. The
    companion to q555: that one audits RECALL of the banded index,
    this one audits the ESTIMATOR the bands are built from."""
    from sensor_time_series_pyspark_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )
    from sensor_time_series_pyspark_spark.operators.dedup import (
        MINHASH_P,
        jaccard_pairs,
        minhash_coeffs,
        shingle_id_portable,
    )
    from sensor_time_series_pyspark_spark.queries.common import _rep_docs

    reps = _rep_docs(spark, sf)
    truth = jaccard_pairs(
        reps, "doc_id", "text", threshold=0.35, shingle_k=2
    )
    a_coef, b_coef = minhash_coeffs(16)
    toks = reps.select(
        F.col("doc_id").alias("id"), tokens("text").alias("__toks")
    ).select(
        "id",
        F.array_distinct(
            shingles_from_tokens(F.col("__toks"), 2)
        ).alias("tok"),
    ).where(F.size("tok") > 0)
    ids = toks.select(
        "id",
        F.explode(
            F.transform(F.col("tok"), shingle_id_portable)
        ).alias("sid"),
    )
    sig = ids.groupBy("id").agg(
        *[
            F.min(
                (F.lit(a_coef[i]) * F.col("sid") + F.lit(b_coef[i]))
                % MINHASH_P
            ).alias(f"h{i}")
            for i in range(16)
        ]
    )
    sa = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(16)],
    )
    sb = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(16)],
    )
    joined = truth.join(sa, "id_a").join(sb, "id_b")
    matches = None
    for i in range(16):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    est = matches.cast("double") / F.lit(16.0)
    return joined.select(
        "id_a",
        "id_b",
        "jaccard",
        est.alias("est_jaccard"),
        F.abs(est - F.col("jaccard")).alias("abs_err"),
    )


def _q_percentile_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Order-statistic confidence intervals for p50/p95 of event value
    per type: rank bounds l = floor(np - z*sqrt(np(1-p))),
    u = ceil(np + z*sqrt(np(1-p))) at z = 1.96 (the distribution-free
    binomial CI), point estimate via percentile_disc, bound values by
    exact rank selection — the percentile dashboards should always
    ship WITH their uncertainty. sqrt is IEEE-exact; floor/ceil of
    the identical doubles agree across engines; everything else is
    rank selection."""
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    ranked = ev.select("event_type", "value", "event_id").withColumn(
        "rn", F.row_number().over(w)
    )
    counts = ranked.groupBy("event_type").agg(
        F.max("rn").cast("bigint").alias("n")
    )
    ps = spark.range(2).select(
        F.when(F.col("id") == 0, F.lit(0.5)).otherwise(F.lit(0.95)).alias("p")
    )
    grid = counts.crossJoin(F.broadcast(ps)).select(
        "event_type",
        "n",
        "p",
        F.floor(
            F.col("n") * F.col("p")
            - F.lit(1.96)
            * F.sqrt(F.col("n") * F.col("p") * (F.lit(1.0) - F.col("p")))
        )
        .cast("bigint")
        .alias("r_lo"),
        F.ceil(
            F.col("n") * F.col("p")
            + F.lit(1.96)
            * F.sqrt(F.col("n") * F.col("p") * (F.lit(1.0) - F.col("p")))
        )
        .cast("bigint")
        .alias("r_hi"),
        F.ceil(F.col("n") * F.col("p")).cast("bigint").alias("r_pt"),
    ).withColumn(
        "r_lo", F.greatest(F.lit(1).cast("bigint"), F.col("r_lo"))
    ).withColumn(
        "r_hi", F.least(F.col("n"), F.col("r_hi"))
    )
    lo = grid.join(
        ranked.select("event_type", F.col("rn").alias("r_lo"), F.col("value").alias("v_lo")),
        ["event_type", "r_lo"],
    )
    hi = lo.join(
        ranked.select("event_type", F.col("rn").alias("r_hi"), F.col("value").alias("v_hi")),
        ["event_type", "r_hi"],
    )
    pt = hi.join(
        ranked.select("event_type", F.col("rn").alias("r_pt"), F.col("value").alias("v_pt")),
        ["event_type", "r_pt"],
    )
    return pt.select(
        "event_type", "p", "n", "v_lo", "v_pt", "v_hi"
    )


def _q_evalue_sensitivity(spark: SparkSession, sf: str) -> DataFrame:
    """E-value sensitivity analysis (VanderWeele-Ding) for the
    hash-arm exposure -> URGENT-order outcome 2x2: how strong would
    an unmeasured confounder have to be to explain the observed risk
    ratio away? E = RR* + sqrt(RR*(RR*-1)) with RR* = max(RR, 1/RR).
    Completes the causal-robustness family (q222 DiD, q360 RDD, q355
    CUPED, q515 jackknife, q552 IV): integer 2x2 counts, fixed-order
    divisions, one sqrt."""
    cust = read_table(spark, sf, "customer").select("c_custkey")
    o = read_table(spark, sf, "orders")
    resp = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .withColumn("y", F.lit(1))
    )
    flagged = (
        cust.withColumn("z", (_h48(F.col("c_custkey"), "ev7:") % 2).cast("int"))
        .join(resp, cust["c_custkey"] == resp["o_custkey"], "left")
        .select("z", F.coalesce(F.col("y"), F.lit(0)).alias("y"))
    )
    cellf = flagged.groupBy().agg(
        F.sum(F.when((F.col("z") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when((F.col("z") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("z") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when((F.col("z") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    rr = (
        F.col("a").cast("double") / (F.col("a") + F.col("b")).cast("double")
    ) / (
        F.col("c").cast("double") / (F.col("c") + F.col("d")).cast("double")
    )
    rr_star = F.when(rr >= 1.0, rr).otherwise(F.lit(1.0) / rr)
    evalue = rr_star + F.sqrt(rr_star * (rr_star - F.lit(1.0)))
    return cellf.select(
        "a", "b", "c", "d", rr.alias("rr"), evalue.alias("evalue")
    )


def _q_session_gap_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization parameter sweep in ONE window pass: per-user
    consecutive inter-event gaps computed once (lag), then for gap
    thresholds {900, 1800, 3600}s the session count is
    n_users + (gaps exceeding the threshold) — three conditional sums
    over the same frame instead of three sessionize runs. Reports
    sessions and mean events/session per threshold: the knob-sizing
    table you build BEFORE committing q15's 1800s default. All
    integer counts; one division per row."""
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    )
    agg = gaps.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        *[
            F.sum(
                F.when(F.col("gap_us") > g * 1_000_000, 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"breaks_{g}")
            for g in (900, 1800, 3600)
        ],
    )
    rows = []
    for g in (900, 1800, 3600):
        rows.append(
            F.struct(
                F.lit(g).cast("int").alias("gap_seconds"),
                (F.col("n_users") + F.col(f"breaks_{g}"))
                .cast("bigint")
                .alias("n_sessions"),
                (
                    F.col("n_events").cast("double")
                    / (F.col("n_users") + F.col(f"breaks_{g}")).cast(
                        "double"
                    )
                ).alias("mean_events_per_session"),
            )
        )
    return agg.select(F.explode(F.array(*rows)).alias("__r")).select(
        "__r.*"
    )


def _q562_oracle() -> str:
    from sensor_time_series_pyspark_spark.operators.dedup import (
        minhash_coeffs,
    )

    a_coef, b_coef = minhash_coeffs(16)
    mins = ",\n            ".join(
        f"min(({a_coef[i]}*sid + {b_coef[i]}) % 2147483647) AS h{i}"
        for i in range(16)
    )
    match_terms = "\n              + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(16)
    )
    return f"""
        WITH reps AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        ),
        toks AS (
          SELECT doc_id AS id,
            list_distinct(
              list_transform(
                generate_series(1, greatest(len(t) - 1, 0)),
                i -> array_to_string(t[i:i+1], ' ')
              )
            ) AS tok
          FROM (
            SELECT doc_id,
              list_filter(string_split_regex(trim(text), '\\s+'),
                x -> x <> '') AS t
            FROM reps
          )
        ),
        toks2 AS (
          SELECT id, tok, len(tok) AS n_tok FROM toks
          WHERE len(tok) > 0
        ),
        inv AS (
          SELECT id, n_tok, unnest(tok) AS token FROM toks2
        ),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b, a.n_tok AS n_a,
                 b.n_tok AS n_b, count(*) AS inter
          FROM inv a JOIN inv b ON a.token = b.token AND a.id < b.id
          GROUP BY 1, 2, 3, 4
        ),
        truth AS (
          SELECT id_a, id_b,
            inter / (n_a + n_b - inter) AS jaccard
          FROM pairs WHERE inter / (n_a + n_b - inter) >= 0.35
        ),
        ids AS (
          SELECT id,
            (('0x' || substr(md5(token), 1, 12))::BIGINT % 2147483647)
              AS sid
          FROM inv
        ),
        sig AS (
          SELECT id,
            {mins}
          FROM ids GROUP BY id
        )
        SELECT t.id_a, t.id_b, t.jaccard,
          CAST({match_terms} AS DOUBLE) / 16.0 AS est_jaccard,
          abs(CAST({match_terms} AS DOUBLE) / 16.0 - t.jaccard)
            AS abs_err
        FROM truth t
        JOIN sig sa ON t.id_a = sa.id
        JOIN sig sb ON t.id_b = sb.id
    """


register_many(
    {
        "q560_expectation_suite": _q_expectation_suite,
        "q561_golden_record": _q_golden_record,
        "q562_minhash_estimate_error": _q_minhash_estimate_error,
        "q563_percentile_ci": _q_percentile_ci,
        "q564_evalue_sensitivity": _q_evalue_sensitivity,
        "q565_session_gap_sweep": _q_session_gap_sweep,
    },
    {
        "q560_expectation_suite": """
            WITH g AS (
              SELECT
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0
                  END) AS BIGINT) AS nulls,
                CAST(count(DISTINCT o_orderkey) AS BIGINT) AS uniq,
                CAST(sum(CASE WHEN o_orderstatus IS NULL
                  OR o_orderstatus NOT IN ('F','O','P')
                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
                CAST(sum(CASE WHEN o_totalprice IS NULL
                  OR o_totalprice < 0.0
                  OR o_totalprice > 1000000.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS oob,
                CAST(max(o_orderkey) - min(o_orderkey) + 1 AS BIGINT)
                  AS span
              FROM orders
            )
            SELECT 'rows_in_band' AS name,
              'row_count_between' AS kind,
              (n >= 100 AND n <= 1000000000) AS passed,
              CAST(n AS DOUBLE) AS observed,
              1000000000.0 AS threshold FROM g
            UNION ALL
            SELECT 'price_not_null', 'not_null',
              CAST(nulls AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
              CAST(nulls AS DOUBLE) / CAST(n AS DOUBLE), 0.0 FROM g
            UNION ALL
            SELECT 'orderkey_unique', 'unique', uniq = n,
              CAST(uniq AS DOUBLE), CAST(n AS DOUBLE) FROM g
            UNION ALL
            SELECT 'status_domain', 'accepted_values', bad_status = 0,
              CAST(bad_status AS DOUBLE), 0.0 FROM g
            UNION ALL
            SELECT 'price_range', 'between',
              CAST(oob AS DOUBLE) / CAST(n AS DOUBLE) <= 0.0,
              CAST(oob AS DOUBLE) / CAST(n AS DOUBLE), 0.0 FROM g
            UNION ALL
            SELECT 'orderkey_span', 'monotonic_id', span >= n,
              CAST(span AS DOUBLE), CAST(n AS DOUBLE) FROM g
        """,
        "q561_golden_record": """
            WITH base AS (
              SELECT md5(text) AS fp, doc_id, lang, source, n_chars
              FROM documents
            ),
            per_lang AS (
              SELECT fp, lang, CAST(count(*) AS BIGINT) AS nl
              FROM base GROUP BY fp, lang
            ),
            modal AS (
              SELECT fp, min(lang) AS modal_lang FROM (
                SELECT fp, lang, nl,
                  max(nl) OVER (PARTITION BY fp) AS mx
                FROM per_lang
              ) WHERE nl = mx GROUP BY fp
            ),
            merged AS (
              SELECT fp,
                CAST(count(*) AS BIGINT) AS n_copies,
                min(doc_id) AS keep_doc_id,
                CAST(max(n_chars) AS BIGINT) AS n_chars_max,
                min(source) AS first_source
              FROM base GROUP BY fp
            )
            SELECT m.fp, m.n_copies, m.keep_doc_id, d.modal_lang,
              m.n_chars_max, m.first_source
            FROM merged m JOIN modal d ON m.fp = d.fp
        """,
        "q562_minhash_estimate_error": _q562_oracle(),
        "q563_percentile_ci": """
            WITH ranked AS (
              SELECT event_type, value,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY value ASC, event_id ASC) AS BIGINT) AS rn
              FROM events
            ),
            counts AS (
              SELECT event_type, max(rn) AS n
              FROM ranked GROUP BY event_type
            ),
            grid AS (
              SELECT c.event_type, c.n, p.p,
                greatest(CAST(1 AS BIGINT),
                  CAST(floor(c.n * p.p - 1.96e0
                    * sqrt(c.n * p.p * (1.0 - p.p))) AS BIGINT))
                  AS r_lo,
                least(c.n,
                  CAST(ceil(c.n * p.p + 1.96e0
                    * sqrt(c.n * p.p * (1.0 - p.p))) AS BIGINT))
                  AS r_hi,
                CAST(ceil(c.n * p.p) AS BIGINT) AS r_pt
              FROM counts c,
                (SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE)),
                  (CAST(0.95 AS DOUBLE))) AS v(p)) p
            )
            SELECT g.event_type, g.p, g.n,
              lo.value AS v_lo, pt.value AS v_pt, hi.value AS v_hi
            FROM grid g
            JOIN ranked lo ON g.event_type = lo.event_type
              AND g.r_lo = lo.rn
            JOIN ranked hi ON g.event_type = hi.event_type
              AND g.r_hi = hi.rn
            JOIN ranked pt ON g.event_type = pt.event_type
              AND g.r_pt = pt.rn
        """,
        "q564_evalue_sensitivity": """
            WITH resp AS (
              SELECT DISTINCT o_custkey, 1 AS y FROM orders
              WHERE o_orderpriority = '1-URGENT'
            ),
            flagged AS (
              SELECT
                CAST(CAST(('0x' || substr(md5('ev7:'
                  || CAST(c.c_custkey AS VARCHAR)), 1, 12)) AS BIGINT)
                  % 2 AS INT) AS z,
                COALESCE(r.y, 0) AS y
              FROM customer c LEFT JOIN resp r
                ON c.c_custkey = r.o_custkey
            ),
            cells AS (
              SELECT
                CAST(sum(CASE WHEN z = 1 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
                CAST(sum(CASE WHEN z = 1 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
                CAST(sum(CASE WHEN z = 0 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
                CAST(sum(CASE WHEN z = 0 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
              FROM flagged
            ),
            rrx AS (
              SELECT a, b, c, d,
                (CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
                / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE)) AS rr
              FROM cells
            ),
            star AS (
              SELECT a, b, c, d, rr,
                CASE WHEN rr >= 1.0 THEN rr ELSE 1.0 / rr END
                  AS rr_star
              FROM rrx
            )
            SELECT a, b, c, d, rr,
              rr_star + sqrt(rr_star * (rr_star - 1.0)) AS evalue
            FROM star
        """,
        "q565_session_gap_sweep": """
            WITH gaps AS (
              SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id)
                  AS gap_us
              FROM events
            ),
            agg AS (
              SELECT
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(sum(CASE WHEN gap_us > 900000000 THEN 1 ELSE 0
                  END) AS BIGINT) AS breaks_900,
                CAST(sum(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0
                  END) AS BIGINT) AS breaks_1800,
                CAST(sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0
                  END) AS BIGINT) AS breaks_3600
              FROM gaps
            )
            SELECT CAST(900 AS INT) AS gap_seconds,
              CAST(n_users + breaks_900 AS BIGINT) AS n_sessions,
              CAST(n_events AS DOUBLE)
                / CAST(n_users + breaks_900 AS DOUBLE)
                AS mean_events_per_session FROM agg
            UNION ALL
            SELECT CAST(1800 AS INT),
              CAST(n_users + breaks_1800 AS BIGINT),
              CAST(n_events AS DOUBLE)
                / CAST(n_users + breaks_1800 AS DOUBLE) FROM agg
            UNION ALL
            SELECT CAST(3600 AS INT),
              CAST(n_users + breaks_3600 AS BIGINT),
              CAST(n_events AS DOUBLE)
                / CAST(n_users + breaks_3600 AS DOUBLE) FROM agg
        """,
    },
)


def _q_chain_ladder(spark: SparkSession, sf: str) -> DataFrame:
    """Actuarial chain-ladder development factors over the revenue
    run-off triangle: cohort = order YEAR, development age = years
    until shipment (non-negative ages 0..3), cell = cumulative shipped
    revenue cents. The age-j factor is the volume-weighted
    sum(C_{j+1})/sum(C_j) over cohorts old enough to have observed
    age j+1 — the estimator every IBNR reserve starts from. Exact
    integer triangle (two bounded aggregates + one cumulative window
    over ages); ONE division per age row."""
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    base = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        F.year("o_orderdate").alias("cohort"),
        (F.year("l_shipdate") - F.year("o_orderdate")).alias("dev"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("rev_c"),
    ).where((F.col("dev") >= 0) & (F.col("dev") <= 3))
    cells = base.groupBy("cohort", "dev").agg(
        F.sum("rev_c").cast("decimal(38,0)").alias("inc_c")
    )
    wcum = Window.partitionBy("cohort").orderBy("dev").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.select(
        "cohort",
        "dev",
        F.sum("inc_c").over(wcum).cast("decimal(38,0)").alias("cum_c"),
    )
    nxt = cum.select(
        F.col("cohort").alias("n_cohort"),
        (F.col("dev") - 1).alias("n_dev"),
        F.col("cum_c").alias("cum_next"),
    )
    paired = cum.join(
        nxt,
        (F.col("cohort") == F.col("n_cohort"))
        & (F.col("dev") == F.col("n_dev")),
    )
    return (
        paired.groupBy("dev")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cohorts"),
            F.sum("cum_c").cast("decimal(38,0)").alias("sum_cj"),
            F.sum("cum_next").cast("decimal(38,0)").alias("sum_cj1"),
        )
        .select(
            F.col("dev").alias("age"),
            "n_cohorts",
            F.col("sum_cj").cast("bigint").alias("sum_cj_c"),
            F.col("sum_cj1").cast("bigint").alias("sum_cj1_c"),
            (
                F.col("sum_cj1").cast("double")
                / F.col("sum_cj").cast("double")
            ).alias("dev_factor"),
        )
    )


# Shapley weights for 3 players: |S|=0 -> 1/3, |S|=1 -> 1/6, |S|=2 -> 1/3
_SHAP_W = {0: 1.0 / 3.0, 1: 1.0 / 6.0, 2: 1.0 / 3.0}
_SHAP_CH = ("view", "click", "signup")


def _q_shapley_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Data-driven Shapley channel attribution: users are bucketed by
    their EXACT touched-channel set over {view, click, signup};
    v(S) = purchase rate of that bucket; each channel's credit is the
    Shapley value phi_i = sum over S not containing i of
    w(|S|)*(v(S+i) - v(S)) with the 3-player literal weights 1/3, 1/6,
    1/3. Like q554, the whole game collapses to the 2^3-cell frame
    after one user-grain reduction — corpus-size-independent shape.
    Eight v-divisions, then fixed literal-order weighted sums; the
    efficiency identity sum(phi) = v(111) - v(000) is pinned in
    tests."""
    ev = read_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "hv"
        ),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "hc"
        ),
        F.max(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).alias("hs"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    cells = per_user.groupBy("hv", "hc", "hs").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    one = cells.groupBy().agg(
        *[
            F.max(
                F.when(
                    (F.col("hv") == v) & (F.col("hc") == c) & (F.col("hs") == s),
                    F.col("k").cast("double") / F.col("n").cast("double"),
                )
            ).alias(f"v{v}{c}{s}")
            for v in (0, 1)
            for c in (0, 1)
            for s in (0, 1)
        ]
    )
    # v cells may be absent at tiny SFs -> treat as 0 conversion rate
    vv = {
        (v, c, s): F.coalesce(F.col(f"v{v}{c}{s}"), F.lit(0.0))
        for v in (0, 1)
        for c in (0, 1)
        for s in (0, 1)
    }

    def phi(idx: int) -> F.Column:
        # subsets S of the OTHER two channels, in fixed literal order:
        # {}, {a}, {b}, {a,b}
        others = [j for j in range(3) if j != idx]
        total = None
        for mask in (0b00, 0b01, 0b10, 0b11):
            size = bin(mask).count("1")
            cell_without = [0, 0, 0]
            for bit, j in enumerate(others):
                cell_without[j] = (mask >> bit) & 1
            cell_with = list(cell_without)
            cell_with[idx] = 1
            term = F.lit(_SHAP_W[size]) * (
                vv[tuple(cell_with)] - vv[tuple(cell_without)]
            )
            total = term if total is None else total + term
        return total

    rows = [
        F.struct(
            F.lit(_SHAP_CH[i]).alias("channel"), phi(i).alias("phi")
        )
        for i in range(3)
    ]
    return one.select(F.explode(F.array(*rows)).alias("__r")).select(
        "__r.*"
    )


def _q_mediation_effects(spark: SparkSession, sf: str) -> DataFrame:
    """Mediation analysis (Baron-Kenny with exact-moment OLS): does
    urgent-order count (x) drive customer revenue (y) directly, or
    through total order volume (m)? Total effect c = Sxy/Sxx; the
    two-regressor fit solves the 2x2 normal equations with centered
    moments — all centered moments are exact integers (decimal 38 ->
    one correctly-rounded double cast each), the determinant algebra
    runs in fixed literal order, and prop_mediated = 1 - b_x/c. One
    customer-grain reduce + one scalar frame."""
    cust = read_table(spark, sf, "customer").select("c_custkey")
    o = read_table(spark, sf, "orders")
    per = (
        cust.join(o, cust["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("o_orderkey").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("m"),
            F.coalesce(
                F.sum(
                    (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                    .cast("bigint")
                ),
                F.lit(0).cast("bigint"),
            ).alias("y"),
        )
    )
    g = per.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("m").cast("decimal(38,0)").alias("sm"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("m") * F.col("m")).cast("decimal(38,0)").alias("smm"),
        F.sum(F.col("x") * F.col("m")).cast("decimal(38,0)").alias("sxm"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("m") * F.col("y")).cast("decimal(38,0)").alias("smy"),
    )
    cxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cmm = (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")).cast("double")
    cxm = (F.col("n") * F.col("sxm") - F.col("sx") * F.col("sm")).cast("double")
    cxy = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    cmy = (F.col("n") * F.col("smy") - F.col("sm") * F.col("sy")).cast("double")
    c_total = cxy / cxx
    det = cxx * cmm - cxm * cxm
    b_x = (cmm * cxy - cxm * cmy) / det
    b_m = (cxx * cmy - cxm * cxy) / det
    return g.select(
        "n",
        c_total.alias("c_total"),
        b_x.alias("b_direct"),
        b_m.alias("b_mediator"),
        (F.lit(1.0) - b_x / c_total).alias("prop_mediated"),
    )


def _q_loo_source_value(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-source-out data valuation (the first rung of data
    Shapley): each source's contribution to the corpus mean document
    length is mean(all) - mean(without s) — closed form from exact
    totals ((T/N) - (T-t_s)/(N-n_s)), no retraining, no resampling.
    Positive delta = the source pulls the metric up. One (source)
    aggregate + the 1-row total broadcast; two divisions + one
    subtraction per source row."""
    docs = read_table(spark, sf, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("t_chars"),
    )
    tot = per.groupBy().agg(
        F.sum("n_docs").cast("bigint").alias("n_all"),
        F.sum("t_chars").cast("bigint").alias("t_all"),
    )
    joined = per.crossJoin(F.broadcast(tot))
    mean_all = F.col("t_all").cast("double") / F.col("n_all").cast("double")
    mean_loo = (F.col("t_all") - F.col("t_chars")).cast("double") / (
        F.col("n_all") - F.col("n_docs")
    ).cast("double")
    return joined.select(
        "source",
        "n_docs",
        (
            F.col("t_chars").cast("double") / F.col("n_docs").cast("double")
        ).alias("mean_source"),
        (mean_all - mean_loo).alias("loo_delta"),
    )


register_many(
    {
        "q566_chain_ladder": _q_chain_ladder,
        "q567_shapley_attribution": _q_shapley_attribution,
        "q568_mediation_effects": _q_mediation_effects,
        "q569_loo_source_value": _q_loo_source_value,
    },
    {
        "q566_chain_ladder": """
            WITH base AS (
              SELECT CAST(extract(year FROM o.o_orderdate) AS INT)
                  AS cohort,
                CAST(extract(year FROM l.l_shipdate)
                  - extract(year FROM o.o_orderdate) AS INT) AS dev,
                CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS rev_c
              FROM lineitem l JOIN orders o
                ON l.l_orderkey = o.o_orderkey
              WHERE extract(year FROM l.l_shipdate)
                  - extract(year FROM o.o_orderdate) BETWEEN 0 AND 3
            ),
            cells AS (
              SELECT cohort, dev,
                CAST(sum(rev_c) AS DECIMAL(38,0)) AS inc_c
              FROM base GROUP BY 1, 2
            ),
            cum AS (
              SELECT cohort, dev,
                CAST(sum(inc_c) OVER (PARTITION BY cohort ORDER BY dev
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DECIMAL(38,0)) AS cum_c
              FROM cells
            ),
            paired AS (
              SELECT a.dev, a.cum_c, b.cum_c AS cum_next
              FROM cum a JOIN cum b
                ON a.cohort = b.cohort AND b.dev = a.dev + 1
            )
            SELECT dev AS age,
              CAST(count(*) AS BIGINT) AS n_cohorts,
              CAST(CAST(sum(cum_c) AS DECIMAL(38,0)) AS BIGINT)
                AS sum_cj_c,
              CAST(CAST(sum(cum_next) AS DECIMAL(38,0)) AS BIGINT)
                AS sum_cj1_c,
              CAST(CAST(sum(cum_next) AS DECIMAL(38,0)) AS DOUBLE)
                / CAST(CAST(sum(cum_c) AS DECIMAL(38,0)) AS DOUBLE)
                AS dev_factor
            FROM paired GROUP BY dev
        """,
        "q567_shapley_attribution": """
            WITH per_user AS (
              SELECT user_id,
                max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS hv,
                max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS hc,
                max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                  AS hs,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS conv
              FROM events GROUP BY user_id
            ),
            cells AS (
              SELECT hv, hc, hs,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(conv) AS BIGINT) AS k
              FROM per_user GROUP BY 1, 2, 3
            ),
            one AS (
              SELECT
                COALESCE(max(CASE WHEN hv=0 AND hc=0 AND hs=0 THEN
                  CAST(k AS DOUBLE)/CAST(n AS DOUBLE) END), 0.0) AS v000,
                COALESCE(max(CASE WHEN hv=0 AND hc=0 AND hs=1 THEN
                  CAST(k AS DOUBLE)/CAST(n AS DOUBLE) END), 0.0) AS v001,
                COALESCE(max(CASE WHEN hv=0 AND hc=1 AND hs=0 THEN
                  CAST(k AS DOUBLE)/CAST(n AS DOUBLE) END), 0.0) AS v010,
                COALESCE(max(CASE WHEN hv=0 AND hc=1 AND hs=1 THEN
                  CAST(k AS DOUBLE)/CAST(n AS DOUBLE) END), 0.0) AS v011,
                COALESCE(max(CASE WHEN hv=1 AND hc=0 AND hs=0 THEN
                  CAST(k AS DOUBLE)/CAST(n AS DOUBLE) END), 0.0) AS v100,
                COALESCE(max(CASE WHEN hv=1 AND hc=0 AND hs=1 THEN
                  CAST(k AS DOUBLE)/CAST(n AS DOUBLE) END), 0.0) AS v101,
                COALESCE(max(CASE WHEN hv=1 AND hc=1 AND hs=0 THEN
                  CAST(k AS DOUBLE)/CAST(n AS DOUBLE) END), 0.0) AS v110,
                COALESCE(max(CASE WHEN hv=1 AND hc=1 AND hs=1 THEN
                  CAST(k AS DOUBLE)/CAST(n AS DOUBLE) END), 0.0) AS v111
              FROM cells
            )
            SELECT 'view' AS channel,
              (1.0/3.0)*(v100 - v000) + (1.0/6.0)*(v110 - v010)
              + (1.0/6.0)*(v101 - v001) + (1.0/3.0)*(v111 - v011)
              AS phi FROM one
            UNION ALL
            SELECT 'click',
              (1.0/3.0)*(v010 - v000) + (1.0/6.0)*(v110 - v100)
              + (1.0/6.0)*(v011 - v001) + (1.0/3.0)*(v111 - v101)
              FROM one
            UNION ALL
            SELECT 'signup',
              (1.0/3.0)*(v001 - v000) + (1.0/6.0)*(v101 - v100)
              + (1.0/6.0)*(v011 - v010) + (1.0/3.0)*(v111 - v110)
              FROM one
        """,
        "q568_mediation_effects": """
            WITH per AS (
              SELECT c.c_custkey,
                CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
                CAST(sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1
                  ELSE 0 END) AS BIGINT) AS m,
                COALESCE(CAST(sum(CAST(CAST(o.o_totalprice
                  AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT),
                  CAST(0 AS BIGINT)) AS y
              FROM customer c LEFT JOIN orders o
                ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            ),
            g AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS DECIMAL(38,0)) AS sx,
                CAST(sum(m) AS DECIMAL(38,0)) AS sm,
                CAST(sum(y) AS DECIMAL(38,0)) AS sy,
                CAST(sum(x*x) AS DECIMAL(38,0)) AS sxx,
                CAST(sum(m*m) AS DECIMAL(38,0)) AS smm,
                CAST(sum(x*m) AS DECIMAL(38,0)) AS sxm,
                CAST(sum(x*y) AS DECIMAL(38,0)) AS sxy,
                CAST(sum(m*y) AS DECIMAL(38,0)) AS smy
              FROM per
            ),
            cmom AS (
              SELECT n,
                CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
                CAST(n * smm - sm * sm AS DOUBLE) AS cmm,
                CAST(n * sxm - sx * sm AS DOUBLE) AS cxm,
                CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
                CAST(n * smy - sm * sy AS DOUBLE) AS cmy
              FROM g
            )
            SELECT n,
              cxy / cxx AS c_total,
              (cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm)
                AS b_direct,
              (cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm)
                AS b_mediator,
              1.0 - ((cmm * cxy - cxm * cmy)
                / (cxx * cmm - cxm * cxm)) / (cxy / cxx)
                AS prop_mediated
            FROM cmom
        """,
        "q569_loo_source_value": """
            WITH per AS (
              SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS t_chars
              FROM documents GROUP BY source
            ),
            tot AS (
              SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
                CAST(sum(t_chars) AS BIGINT) AS t_all
              FROM per
            )
            SELECT p.source, p.n_docs,
              CAST(p.t_chars AS DOUBLE) / CAST(p.n_docs AS DOUBLE)
                AS mean_source,
              (CAST(t.t_all AS DOUBLE) / CAST(t.n_all AS DOUBLE))
              - (CAST(t.t_all - p.t_chars AS DOUBLE)
                 / CAST(t.n_all - p.n_docs AS DOUBLE)) AS loo_delta
            FROM per p, tot t
        """,
    },
)
