"""Deduplication suite for training-data pipelines (north-star
extension, BASELINE.json — the reference has no dedup at all).

Four tiers, cheapest first:
1. exact        — content-hash groupBy (one shuffle on the hash).
2. ngram/word Jaccard — inverted-index join: explode tokens, join on
   token, count shared per pair. Never materializes the full cross
   product; prune high-document-frequency tokens at scale.
3. MinHash LSH  — ``minhash_pairs``: affine-permutation minima over
   portable shingle ids, one groupBy per signature, banded into
   equi-join keys; only docs sharing a band key are compared.
4. SimHash      — ``simhash_pairs_portable``: 48-bit majority-vote
   signature, banded into 6-bit chunks: near-dups (hamming ≤ t) must
   collide on ≥1 band when t < bands, so the candidate join is an
   equi-join on (band_id, band_value).

All candidate-pair stages verify with an exact measure before
reporting — LSH/banding only bound recall, never precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles_from_tokens, tokens


def spread(df: DataFrame) -> DataFrame:
    """Repartition before CPU-heavy per-row expression work (shingling,
    signature computation, text scoring). A small parquet source arrives
    as ONE input split, which serializes the whole expression stage on
    one core — the round-robin repartition costs one narrow shuffle of
    the raw rows and unlocks full-cluster parallelism for everything
    after. At real scale the scan has many splits and this becomes a
    no-op decision: call it only when expression cost ≫ row width."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct content (lowest id wins — deterministic,
    unlike dropDuplicates which keeps an arbitrary row).

    ONE hash aggregate on the 64-bit content hash with a whole-row
    ``min_by``: partial aggregation keeps at most one candidate row per
    (hash, partition) BEFORE the shuffle, so duplicate-heavy data (the
    whole point of dedup) shuffles ~n_distinct rows, not n_rows — a
    window row_number() would shuffle and sort everything. Measured
    2.4x on sf0.1 documents (~10 copies/text)."""
    rep = (
        df.groupBy(F.xxhash64(F.col(text_col)).alias("__h"))
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__r"))
    )
    return rep.select("__r.*")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 1,
    max_token_df: int | None = None,
    unit: str = "word",
    persist_index: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard for all pairs ≥ threshold, via an
    inverted-index self-join (never a cross join).

    ``unit='word'`` shingles are k-word windows; ``unit='char'`` are
    character k-grams (robust to tokenization differences / CJK).
    Output: id_a, id_b (a < b), jaccard. ``max_token_df`` drops tokens
    appearing in more than N docs before the join — the skew/scale
    valve: ubiquitous tokens generate O(df²) candidate pairs while
    contributing little to Jaccard.
    """
    # Tokenize into a REAL column before shingling: the shingle
    # transform's lambda re-evaluates free expressions per token index,
    # so feeding it the tokenizer expression directly is O(tokens²) per
    # row (functions/text.py:shingles_from_tokens). A bound attribute
    # read per element is free.
    if unit == "word":
        base = spread(df).select(
            F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
        )
        shingles = (
            shingles_from_tokens(F.col("__toks"), shingle_k)
            if shingle_k > 1
            else F.col("__toks")
        )
    elif unit == "char":
        from ..functions.text import char_ngrams

        # char_ngrams' free variable is the plain text column (attribute
        # read + substr per index) — no quadratic blowup, keep one step.
        base = spread(df).select(
            F.col(id_col).alias("id"), char_ngrams(text_col, shingle_k).alias("__toks")
        )
        shingles = F.col("__toks")
    else:
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    # Hash each shingle to 64 bits INSIDE the array, before explode:
    # the inverted index then carries longs, not shingle strings —
    # ~4x smaller shuffle, cheaper key compares, and the explode never
    # materializes the strings row-wise (measured 2x on the whole
    # query). Collision risk ~n²/2⁶⁴ — at a billion distinct shingles
    # that's ~5e-2 spurious co-occurrences TOTAL, each worth +1
    # intersection count: immaterial.
    toks = base.select(
        "id",
        F.transform(F.array_distinct(shingles), lambda s: F.xxhash64(s)).alias("tok"),
    )
    inverted = toks.select(
        "id", F.size("tok").alias("n_tok"), F.explode("tok").alias("token")
    )
    if persist_index:
        # Both sides of the self-join consume `inverted`, and exchange
        # reuse does not fire across the differing projections
        # (measured, also with identical alias'd plans) — so the scan +
        # tokenize + shingle pipeline runs twice. With the linear-time
        # shingle construction that duplicated work is a cheap map-side
        # pass, and recomputing it beats paying a persist barrier
        # (materialize + memory/disk write + read) — default OFF.
        # Enable when the upstream is expensive to recompute (e.g. a
        # filtered join feeds `df`, or max_token_df adds a third
        # consumer via the document-frequency aggregation).
        from pyspark import StorageLevel

        inverted = inverted.persist(StorageLevel.MEMORY_AND_DISK)
    if max_token_df is not None:
        df_counts = inverted.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        inverted = inverted.join(
            df_counts.where(F.col("df") <= max_token_df).select("token"), "token"
        )
    a = inverted.select(
        F.col("token"),
        F.col("id").alias("id_a"),
        F.col("n_tok").alias("n_a"),
    )
    b = inverted.select(
        F.col("token"),
        F.col("id").alias("id_b"),
        F.col("n_tok").alias("n_b"),
    )
    # Length filter (exact): jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|),
    # so pairs whose set sizes differ by more than 1/threshold can never
    # pass — prune them inside the join, before the candidate rows hit
    # the aggregation. The classic size-filter from the set-similarity
    # join literature (SSJoin/PPJoin); on size-skewed corpora it
    # removes the short-doc x long-doc candidate mass entirely.
    size_ok = F.least(F.col("n_a"), F.col("n_b")) >= F.greatest(
        F.col("n_a"), F.col("n_b")
    ) * F.lit(float(threshold))
    pairs = (
        a.join(b, "token")
        .where((F.col("id_a") < F.col("id_b")) & size_ok)
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
    unit: str = "word",
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (PPJoin family,
    Xiao et al. "Efficient Similarity Joins for Near Duplicate
    Detection") — the scale path for higher thresholds.

    Key fact: order every doc's shingles by a global canonical order
    (rarest-first by document frequency). If jaccard(A,B) >= t, the two
    docs MUST share at least one shingle inside each one's first
    ``n - ceil(t*n) + 1`` shingles (the prefix) — otherwise the >= t*n
    overlap cannot fit in the remainder. So the inverted index holds
    only prefixes: with t=0.8 that is ~20% of postings, and candidate
    volume falls roughly quadratically in the kept fraction (rare
    tokens first also means tiny posting lists — exactly the tokens
    with the least join fan-out).

    Verification is exact and separate: candidate (id_a, id_b) pairs
    join back to the full shingle-hash arrays and score
    |A∩B| via array_intersect — no recall loss, unlike MinHash/SimHash.

    Compared to ``jaccard_pairs`` (full inverted index, counts overlap
    inside the join): fewer candidates but two extra hash joins to
    fetch arrays. MEASURED VERDICT (round 9, history/RACE_JACCARD_r09.json /
    SCALING.md): on 5k/50k/500k-doc WORD-shingle corpora at t=0.2 and
    t=0.5 the inverted index wins every leg by 2.8-14.3x, and the gap
    WIDENS with corpus size — the canonical-order construction is a
    second full-posting shuffle and the per-candidate array_intersect
    verify costs more than the candidates it saves. Round-11
    amendment: on DENSE shingle distributions the verdict flips —
    q45's char 5-grams (2041-gram vocabulary, Σdf² = 1.5e9) ran 143 s
    through the full index and 26.5 s here (prefix cuts the join mass
    9.2x; the ranked frame is persisted for its three consumers).
    Dispatch by density: word shingles → ``jaccard_pairs``; dense
    char grams / tiny vocabularies → this.

    Output: id_a, id_b (a < b), jaccard — identical contract to
    jaccard_pairs.
    """
    if unit == "word":
        base = spread(df).select(
            F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
        )
        sh = (
            shingles_from_tokens(F.col("__toks"), shingle_k)
            if shingle_k > 1
            else F.col("__toks")
        )
    elif unit == "char":
        from ..functions.text import char_ngrams

        base = spread(df).select(
            F.col(id_col).alias("id"),
            char_ngrams(text_col, shingle_k).alias("__toks"),
        )
        sh = F.col("__toks")
    else:
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    toks = base.select(
        "id",
        F.transform(F.array_distinct(sh), lambda s: F.xxhash64(s)).alias("tok"),
    )
    inverted = toks.select("id", F.explode("tok").alias("token"))

    # global canonical order: ascending document frequency, token id
    # as tiebreak — rarest-first minimizes posting-list fan-out
    dfreq = inverted.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        inverted.join(dfreq, "token")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("df"), F.col("token")))
                ),
                lambda s: s["token"],
            ).alias("tok")
        )
        .withColumn("n_tok", F.size("tok"))
        .withColumn(
            "prefix",
            F.slice(
                "tok",
                1,
                F.greatest(
                    F.col("n_tok") - F.ceil(F.col("n_tok") * F.lit(float(threshold)))
                    + 1,
                    F.lit(0),
                ).cast("int"),
            ),
        )
    )
    # `ranked` (postings join + per-doc collect/sort) feeds the prefix
    # index AND both exact-verify array sides — materialize it once
    # instead of re-running the ranking pipeline 3x (guide §5; same
    # caller cache contract as dup_span_pairs/tfidf_cosine_pairs:
    # the returned lazy frame references the cache, clearCache between
    # invocations in long-lived sessions)
    from pyspark import StorageLevel

    ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    pre = ranked.select(
        "id", "n_tok", F.explode("prefix").alias("token")
    )
    a = pre.select(
        "token", F.col("id").alias("id_a"), F.col("n_tok").alias("n_a")
    )
    b = pre.select(
        "token", F.col("id").alias("id_b"), F.col("n_tok").alias("n_b")
    )
    size_ok = F.least(F.col("n_a"), F.col("n_b")) >= F.greatest(
        F.col("n_a"), F.col("n_b")
    ) * F.lit(float(threshold))
    cands = (
        a.join(b, "token")
        .where((F.col("id_a") < F.col("id_b")) & size_ok)
        .select("id_a", "id_b")
        .distinct()
    )

    # exact verify: fetch both full arrays, intersect once per pair
    arrs = ranked.select("id", "tok", "n_tok")
    verified = (
        cands.join(
            arrs.select(
                F.col("id").alias("id_a"),
                F.col("tok").alias("ta"),
                F.col("n_tok").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("id").alias("id_b"),
                F.col("tok").alias("tb"),
                F.col("n_tok").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        verified.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )


# MinHash permutation arithmetic: h_i(x) = (a_i*x + b_i) mod P over
# 31-bit shingle ids. P = 2^31-1 (prime); a_i*x < 2^62 never overflows
# a 64-bit long, and the identical expression evaluates in any ANSI-SQL
# engine — the whole pipeline is differential-testable against DuckDB.
MINHASH_P = 2147483647


def minhash_coeffs(n_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Seeded (a, b) coefficient lists for the affine permutations.
    Plain ``random.Random`` (not numpy) so the constants are stable
    across library versions and can be baked into oracle SQL."""
    import random

    rnd = random.Random(seed)
    a = [rnd.randrange(1, MINHASH_P) for _ in range(n_hashes)]
    b = [rnd.randrange(0, MINHASH_P) for _ in range(n_hashes)]
    return a, b


def shingle_id_portable(sh) -> F.Column:
    """48-bit engine-portable shingle id: first 12 hex chars of md5,
    reduced mod P. md5 is standardized, so DuckDB's
    ``('0x' || substr(md5(s),1,12))::BIGINT % P`` computes the identical
    value — unlike xxhash64/murmur, whose constants differ per engine.
    (xxhash64 stays the scale-path default elsewhere: one hash, no hex
    round-trip; this is the differential-testing variant.)"""
    return (
        F.conv(F.substring(F.md5(sh), 1, 12), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )


def shingle_id_fast(sh) -> F.Column:
    """31-bit shingle id from xxhash64 — the SCALE-tier sid: one JVM
    hash per shingle instead of md5 + hex conv + mod (measured ~25%
    off the signature stage). NOT engine-portable (xxhash constants
    differ per engine) — use ``shingle_id_portable`` when the run must
    reproduce in SQL (q20's oracle)."""
    return F.pmod(F.xxhash64(sh), F.lit(MINHASH_P))


def minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.35,
    shingle_k: int = 2,
    n_hashes: int = 16,
    n_bands: int = 8,
    seed: int = 42,
    persist_sets: bool = True,
    sid: str = "portable",
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, pure DataFrame algebra (no
    pyspark.ml, no driver-side state): shingle → portable 31-bit id →
    ``n_hashes`` affine-permutation minima (ONE groupBy computes the
    whole signature) → ``n_bands`` band keys → equi-join candidates →
    exact-Jaccard verify on the shingle arrays.

    Scale shape: signature build is a single map-side-combinable
    aggregate on the doc id; the candidate join touches only docs
    sharing a band key (collision probability s^(n_hashes/n_bands) per
    band — the classic S-curve, ~0.35 inflection at 16/8); verification
    is exact so precision is 1.0 and only recall is probabilistic.

    Output: id_a, id_b (a < b), jaccard — same contract as
    jaccard_pairs, and SQL-reproducible end-to-end (see q20's oracle)
    when ``sid='portable'``; ``sid='fast'`` swaps the md5 shingle id
    for xxhash64 (same banding math, not SQL-reproducible) — the
    variant ``jaccard_pairs_auto`` dispatches to at scale.
    """
    if n_hashes % n_bands != 0:
        raise ValueError("n_hashes must divide evenly into n_bands")
    if sid not in ("portable", "fast"):
        raise ValueError(f"sid must be 'portable' or 'fast', got {sid!r}")
    sid_fn = shingle_id_portable if sid == "portable" else shingle_id_fast
    r = n_hashes // n_bands
    a_coef, b_coef = minhash_coeffs(n_hashes, seed)

    base = spread(df).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    )
    sh = (
        shingles_from_tokens(F.col("__toks"), shingle_k)
        if shingle_k > 1
        else F.col("__toks")
    )
    toks = (
        base.select("id", F.array_distinct(sh).alias("tok"))
        .where(F.size("tok") > 0)
    )
    if persist_sets:
        # the shingle-set frame feeds the signature build AND both
        # sides of the verify join — without a persist the whole
        # upstream (scan + tokenize + shingle) recomputes 3x
        from pyspark import StorageLevel

        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    ids = toks.select(
        "id",
        F.size("tok").alias("n_tok"),
        F.explode(F.transform(F.col("tok"), sid_fn)).alias("sid"),
    )
    sig = ids.groupBy("id").agg(
        F.min("n_tok").alias("n_tok"),
        *[
            F.min((F.lit(a_coef[i]) * F.col("sid") + F.lit(b_coef[i])) % MINHASH_P)
            .alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )
    bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band_id"),
                        F.concat_ws(
                            "|", *[F.col(f"h{band * r + j}") for j in range(r)]
                        ).alias("band_key"),
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "b.band_id", "b.band_key")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    arrs = toks.select("id", "tok", F.size("tok").alias("n_tok"))
    verified = (
        cand.join(
            arrs.select(
                F.col("id").alias("id_a"),
                F.col("tok").alias("ta"),
                F.col("n_tok").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("id").alias("id_b"),
                F.col("tok").alias("tb"),
                F.col("n_tok").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        verified.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )


def simhash_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    shingle_k: int = 2,
    n_bits: int = 48,
    n_bands: int = 8,
    persist_sigs: bool = True,
) -> DataFrame:
    """Engine-portable SimHash near-dup pairs: signatures are per-bit
    majority votes over the 48-bit md5-derived shingle ids (the same
    portable id used by minhash_pairs), so signature, banding, and the
    bit_count(xor) verify all reproduce in ANSI SQL — q21 is
    differentially tested against DuckDB end-to-end.

    Scale shape: one groupBy builds all vote counters
    map-side-combinably; candidates come from a band equi-join, never
    a cross join. With n_bands=8 over 48 bits any
    pair with hamming ≤ 7 shares an intact 6-bit band (pigeonhole), so
    recall is exact for max_hamming ≤ 7.

    Output: id_a, id_b (a < b), hamming.
    """
    if n_bits % n_bands != 0:
        raise ValueError("n_bits must divide evenly into n_bands")
    band_width = n_bits // n_bands
    base = spread(df).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    )
    sh = (
        shingles_from_tokens(F.col("__toks"), shingle_k)
        if shingle_k > 1
        else F.col("__toks")
    )
    toks = base.select("id", F.array_distinct(sh).alias("tok")).where(
        F.size("tok") > 0
    )
    # full 48-bit id (no mod-P reduction — simhash wants the bits)
    sid = F.conv(F.substring(F.md5(F.col("sh")), 1, 12), 16, 10).cast("long")
    ids = toks.select("id", F.explode("tok").alias("sh")).select(
        "id", sid.alias("sid")
    )
    votes = ids.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("sid"), b).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"v{b}")
            for b in range(n_bits)
        ]
    )
    sig_expr = None
    for b in range(n_bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig_expr = term if sig_expr is None else sig_expr + term
    sigs = votes.select("id", sig_expr.alias("sig"))
    if persist_sigs:
        # sigs (one long per doc) feed both sides of the band join —
        # persist the tiny frame instead of recomputing the vote
        # aggregation + upstream shingling twice
        from pyspark import StorageLevel

        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    bands = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftrightunsigned(F.col("sig"), i * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "sig", "band.band_id", "band.band_val")
    a = bands.select(
        "band_id", "band_val", F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
    )
    b_side = bands.select(
        "band_id", "band_val", F.col("id").alias("id_b"), F.col("sig").alias("sig_b")
    )
    cand = (
        a.join(b_side, ["band_id", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.expr("sig_a ^ sig_b")).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node starts labeled with its own id;
    each round a node takes the minimum of its label and its neighbors'
    labels; fixpoint = every node carries the minimum id reachable from
    it, which names its component.

    Rounds needed = graph diameter. Near-dup graphs (the intended
    caller, dedup_clusters) are dense blobs of mutual similarity with
    tiny diameters, so this converges in a handful of rounds; for
    adversarially long chain graphs at scale, the upgrade path is the
    alternating large-star/small-star algorithm (Kiveris et al., "CC in
    MapReduce and Beyond"), which converges in O(log n) rounds — same
    DataFrame surface, drop-in.

    Per round: one shuffle (neighbor groupBy-min) + one join with the
    label frame; ``localCheckpoint`` truncates the lineage so plan size
    stays O(1) across rounds, and the convergence probe rides the
    checkpoint's materialization rather than a separate action.

    Output: (node, component) — component = min node id in the
    component. Raises if not converged within ``max_iter``.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    # the symmetrized edge list is joined EVERY round, and `edges` is
    # typically the output of a whole near-dup pipeline (jaccard pair
    # generation) — without a persist each round re-ran that pipeline
    # end to end (measured: q153 8.4 s → 1.9 s at sf0.1). Component
    # edges are pair-grain — far below corpus grain — so the
    # materialization is cheap at any scale.
    from pyspark import StorageLevel

    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        labels = sym.select("u").distinct().select(
            "u", F.col("u").alias("lbl")
        ).localCheckpoint()
        for _ in range(max_iter):
            nb_min = (
                sym.join(labels.select(F.col("u").alias("v"), "lbl"), "v")
                .groupBy("u")
                .agg(F.min("lbl").alias("nb_lbl"))
            )
            new_labels = (
                labels.join(nb_min, "u", "left")
                .select(
                    "u",
                    F.least(
                        F.col("lbl"), F.coalesce("nb_lbl", "lbl")
                    ).alias("lbl"),
                    (F.coalesce("nb_lbl", "lbl") < F.col("lbl")).alias(
                        "__chg"
                    ),
                )
                .localCheckpoint()
            )
            changed = new_labels.where("__chg").limit(1).count()
            labels = new_labels.drop("__chg")
            if changed == 0:
                # labels are checkpointed — lineage no longer references
                # the edge cache, which the finally releases
                return labels.select(
                    F.col("u").alias("node"), F.col("lbl").alias("component")
                )
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "graph diameter exceeds the near-dup assumption — switch to "
            "large-star/small-star"
        )
    finally:
        sym.unpersist()


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the scale path promised by ``connected_components``' docstring:
    converges in O(log n) rounds on ANY graph shape, where plain
    min-label propagation needs O(diameter) rounds (a 10⁶-node chain =
    10⁶ rounds vs ~20).

    large-star: every node points its larger neighbors at its
    neighborhood minimum (including itself); small-star: every node
    points its smaller neighbors (and itself) at their minimum. Each
    operation is one groupBy-min + one join — two shuffles per round,
    same DataFrame surface as the naive version. Fixpoint = the edge
    set is a star forest: every node points directly at its component
    minimum.

    Output: (node, component) — identical contract to
    ``connected_components``; equality is property-tested on random
    graphs and the adversarial chain.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    # canonical undirected form (hi → lo), deduped
    e = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct().localCheckpoint()

    def _large_star(cur: DataFrame) -> DataFrame:
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mn = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", F.col("u")).alias("m"))
        )
        out = (
            sym.join(mn, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return out.where(F.col("u") != F.col("v")).distinct()

    def _small_star(cur: DataFrame) -> DataFrame:
        # cur is (hi → lo); per hi-node: min of its smaller neighbors
        mn = cur.groupBy("u").agg(F.min("v").alias("m"))
        joined = cur.join(mn, "u")
        out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
            joined.select(F.col("u"), F.col("m").alias("v"))
        )
        return out.where(F.col("u") != F.col("v")).distinct()

    prev_sig = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct().localCheckpoint()
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a long sum of 2^63-scale hashes overflows
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        cur_sig = (sig["n"], sig["h"])
        if cur_sig == prev_sig:
            # star forest: every edge is (node → component minimum)
            centers = e.select("v").distinct().select(
                F.col("v").alias("node"), F.col("v").alias("component")
            )
            return e.select(
                F.col("u").alias("node"), F.col("v").alias("component")
            ).union(centers).distinct()
        prev_sig = cur_sig
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds"
    )


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup cluster assignment from a similarity-pair list (the
    output of jaccard_pairs / minhash_pairs / simhash_pairs_portable /
    embedding_near_dup_pairs): each document that appears in at least
    one pair gets the cluster id = lowest doc id in its connected
    component — consistent with exact_dedup's lowest-id-wins canonical
    choice, so ``cluster_id`` doubles as the canonical document to keep.

    Output: (doc_id, cluster_id), one row per clustered document.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-duplicates: pairs with cosine ≥ threshold.

    Baseline implementation is the exact block-join (self-join on a
    norm-bucketed key would prune little for cosine, so this is the
    honest O(n²/2) form — fine to ~10⁵ rows). The scale path is
    random-hyperplane LSH (similarity.py:srp_signature_portable) to
    generate candidates, with this same exact cosine as the verifier.
    Output: id_a, id_b, cosine.
    """
    from ..functions.vectors import dot, l2_norm

    # norms precomputed per row — per-pair work is one dot product
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", dot("va", "vb") / (F.col("na") * F.col("nb")))
        .where(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )


def levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
) -> DataFrame:
    """Edit-distance near-dup pairs for SHORT strings (titles, product
    names, codes) — the dedup tier below shingle Jaccard, which is
    meaningless on strings of a few tokens.

    Candidate generation is a banded equi-join, not a nested loop:
    levenshtein(a,b) <= d implies |len(a)-len(b)| <= d, so with length
    buckets of width d+1 a qualifying pair's buckets differ by at most
    1. The left side explodes to its bucket ± 1 and equi-joins the
    right side's single bucket — every qualifying pair meets exactly
    once (the right bucket is unique), no distinct needed. The exact
    length filter then prunes in-join, and only surviving candidates
    pay the O(len²) DP, with Spark's threshold-bounded levenshtein
    (early exit past max_dist).

    At 100 TB this shuffles on the bucket key; bucket populations are
    bounded by the length distribution, not the corpus (strings of one
    length band co-locate). For long-string workloads use the shingle
    tiers instead — edit distance itself is the wrong measure there.

    Output: id_a, id_b (a < b), dist.
    """
    w = max_dist + 1
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.length(text_col).alias("len"),
        F.floor(F.length(text_col) / F.lit(w)).alias("bucket"),
    )
    left = base.select(
        F.col("id").alias("id_a"),
        F.col("txt").alias("txt_a"),
        F.col("len").alias("len_a"),
        F.explode(
            F.array(
                F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1
            )
        ).alias("bucket"),
    )
    right = base.select(
        F.col("id").alias("id_b"),
        F.col("txt").alias("txt_b"),
        F.col("len").alias("len_b"),
        "bucket",
    )
    cands = left.join(right, "bucket").where(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
    )
    dist = F.levenshtein("txt_a", "txt_b", max_dist)
    return (
        cands.withColumn("dist", dist)
        .where(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 2,
    n_hashes: int = 16,
    n_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The banded-LSH signature frame alone — (id, band_id, band_key)
    rows, the persistable index behind incremental near-dup rejection
    (plans/corpus_ingest.py): store these for the accepted corpus, and
    a new document is a near-dup candidate iff it shares any
    (band_id, band_key) with the store. Same portable construction as
    minhash_pairs (md5 shingle ids + affine permutations), so bands
    computed in different runs/engines collide identically."""
    if n_hashes % n_bands != 0:
        raise ValueError("n_hashes must divide evenly into n_bands")
    r = n_hashes // n_bands
    a_coef, b_coef = minhash_coeffs(n_hashes, seed)
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
    sh = (
        shingles_from_tokens(F.col("__toks"), shingle_k)
        if shingle_k > 1
        else F.col("__toks")
    )
    toks = base.select("id", F.array_distinct(sh).alias("tok")).where(
        F.size("tok") > 0
    )
    ids = toks.select(
        "id",
        F.explode(F.transform(F.col("tok"), shingle_id_portable)).alias("sid"),
    )
    sig = ids.groupBy("id").agg(
        *[
            F.min((F.lit(a_coef[i]) * F.col("sid") + F.lit(b_coef[i])) % MINHASH_P)
            .alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band_id"),
                        F.concat_ws(
                            "|", *[F.col(f"h{band * r + j}") for j in range(r)]
                        ).alias("band_key"),
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "b.band_id", "b.band_key")


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    max_token_df: int | None = None,
    exact: bool = True,
) -> DataFrame:
    """All document pairs with TF-IDF-weighted cosine similarity ≥
    threshold — the weighted upgrade of jaccard_pairs: rare shared
    terms count more than ubiquitous ones, the standard retrieval-style
    near-dup / related-document signal.

    Same inverted-index shape as jaccard_pairs (index on term, join,
    per-pair aggregate — never a cross join); ``max_token_df`` is the
    identical skew valve (a df-D term contributes O(D²) candidate
    pairs). Terms present in only one of the two docs contribute zero
    to the dot product, so indexing only shared terms is exact.

    Numerics (``exact=True``): idf = (N - df + 0.5)/(df + 0.5) — the
    BM25 ratio WITHOUT the log (bm25_rank's portability argument;
    cosine ordering shifts, but the weighting intent — rare terms
    dominate — is preserved and every bit is reproducible). The idf is
    ONE double division cast once to decimal(15,6) (half-up, engine-
    portable); weights tf·idf and all dot/norm accumulation stay exact
    decimals; the ONLY float epilogue is dot/(√na·√nb) at the end.
    decimal(15,6) weights bound tf·idf < 1e9 — beyond ~1.5e9 docs set
    ``exact=False`` to run the plain double path (same plan, no
    decimal ceiling, not oracle-reproducible).

    Cache contract: the weighted postings frame is persisted for the
    duration of the returned (lazy) frame's life — same caller
    contract as ``dup_span_pairs(persist_shared=True)``: clearCache
    between invocations in long-lived sessions.

    Output: id_a, id_b (a < b), cosine.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.col(id_col)).distinct().count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_token_df is not None:
        dfreq = dfreq.where(F.col("df") <= max_token_df)
    idf_dbl = (
        (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    if exact:
        idf = idf_dbl.cast("decimal(15,6)")
        w = (F.col("tf").cast("decimal(9,0)") * F.col("idf")).cast("decimal(18,6)")
    else:
        idf = idf_dbl
        w = F.col("tf").cast("double") * F.col("idf")
    weighted = tf.join(dfreq.withColumn("idf", idf).select("term", "idf"), "term").select(
        "id", "term", w.alias("w")
    )
    # the weighted postings feed the norm aggregate, the prefix ranking
    # AND both verify sides — materialize the (id, term, w) frame once
    # instead of re-running the tokenize + tf + idf pipeline per
    # consumer (guide §5; the q581 persist_shared precedent: postings
    # are tiny next to the corpus at any scale)
    from pyspark import StorageLevel

    weighted = weighted.persist(StorageLevel.MEMORY_AND_DISK)
    if exact:
        norms = weighted.groupBy("id").agg(
            F.sum((F.col("w") * F.col("w")).cast("decimal(38,12)")).alias("n2")
        )
    else:
        norms = weighted.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    # ---- Bayardo/Ma/Srikant 2007 prefix filter (LOSSLESS) -------------
    # The naive inverted-index join generates a candidate row per
    # shared term per pair — Σ_term df² rows (223.5M at sf0.1 on the
    # 31-term synthetic vocabulary; 269 s). For unit-normalized
    # vectors, cos(x,y) ≥ t implies the globally-FIRST shared term s*
    # satisfies: Σ_{shared} u_x u_y ≤ ‖x restricted to terms ≥ s*‖ < t
    # unless the unit mass of x's terms strictly before s* is ≤ 1−t².
    # With one consistent global term order (rarest-first: ascending
    # df, term tiebreak), s* therefore sits inside BOTH docs' prefixes
    # when each prefix is cut at cumulative-unit-mass-before ≤ 1−t²
    # (+1e-9 slack so double rounding can only widen the prefix —
    # widening never loses a pair). So indexing prefixes alone is
    # exact: the candidate join runs on the rare-term postings, and
    # the dot product is recomputed in full (same decimal arithmetic)
    # for the surviving pairs only.
    u2 = (F.col("w") * F.col("w")).cast("double") / F.col("n2").cast("double")
    ranked = (
        weighted.join(dfreq.select("term", "df"), "term")
        .join(norms, "id")
        .withColumn("__u2", u2)
    )
    w_before = (
        Window.partitionBy("id")
        .orderBy(F.col("df").asc(), F.col("term").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = (
        ranked.withColumn(
            "__m", F.coalesce(F.sum("__u2").over(w_before), F.lit(0.0))
        )
        .where(F.col("__m") <= F.lit(1.0 - float(threshold) ** 2 + 1e-9))
        .select("id", "term", "__u2", "__m")
    )
    # Second LOSSLESS prune, per candidate ROW: split the dims at the
    # joining term s. When s is the pair's globally-first shared term,
    # neither doc shares anything before s, so
    #   cos ≤ u_a(s)·u_b(s) + √((1−m_a−u_a²)(1−m_b−u_b²))
    # (Cauchy–Schwarz on the strict-suffix blocks). Filtering rows on
    # bound ≥ t−ε keeps every qualifying pair's s* row, so the DISTINCT
    # pair set is unchanged for true pairs — only junk rows die before
    # the distinct (measured at sf0.1: 32.5M → 22.0M join rows).
    pa = prefix.select(
        F.col("id").alias("id_a"),
        "term",
        F.col("__u2").alias("__ua2"),
        F.col("__m").alias("__ma"),
    )
    pb = prefix.select(
        F.col("id").alias("id_b"),
        "term",
        F.col("__u2").alias("__ub2"),
        F.col("__m").alias("__mb"),
    )
    cs_bound = F.sqrt(F.col("__ua2") * F.col("__ub2")) + F.sqrt(
        F.greatest(F.lit(0.0), 1.0 - F.col("__ma") - F.col("__ua2"))
        * F.greatest(F.lit(0.0), 1.0 - F.col("__mb") - F.col("__ub2"))
    )
    cands = (
        pa.join(pb, "term")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (cs_bound >= F.lit(float(threshold) - 1e-9))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = weighted.select(
        F.col("id").alias("id_a"), "term", F.col("w").alias("wa")
    )
    b = weighted.select(
        F.col("id").alias("id_b"), "term", F.col("w").alias("wb")
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("n2").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("n2").alias("nb"))
    if exact:
        # Two-pass verify. Pass 1 scores every candidate pair with a
        # DOUBLE dot (primitive codegen sum — the decimal sum's boxed
        # arithmetic is the verify stage's real cost) and keeps pairs
        # with cos_dbl ≥ t − 1e-9: the double dot's relative error is
        # ≤ ~n·2⁻⁵² ≈ 1e-14, so the margin provably loses nothing.
        # Pass 2 recomputes the EXACT decimal dot for the survivors
        # only (output grain — a few 10³–10⁴ pairs), so emitted
        # cosines are bit-identical to the single-pass decimal sum.
        dbl = (
            cands.join(a, "id_a")
            .join(b, ["id_b", "term"])
            .groupBy("id_a", "id_b")
            .agg(
                F.sum(
                    F.col("wa").cast("double") * F.col("wb").cast("double")
                ).alias("dot_dbl")
            )
        )
        cos_dbl = F.col("dot_dbl") / (
            F.sqrt(F.col("na").cast("double"))
            * F.sqrt(F.col("nb").cast("double"))
        )
        survivors = (
            dbl.join(na, "id_a")
            .join(nb, "id_b")
            .where(cos_dbl >= F.lit(float(threshold) - 1e-9))
            .select("id_a", "id_b", "na", "nb")
        )
        dots = (
            survivors.join(a, "id_a")
            .join(b, ["id_b", "term"])
            .groupBy("id_a", "id_b", "na", "nb")
            .agg(
                F.sum((F.col("wa") * F.col("wb")).cast("decimal(38,12)")).alias(
                    "dot"
                )
            )
        )
        cos = F.col("dot").cast("double") / (
            F.sqrt(F.col("na").cast("double"))
            * F.sqrt(F.col("nb").cast("double"))
        )
        return dots.select("id_a", "id_b", cos.alias("cosine")).where(
            F.col("cosine") >= threshold
        )
    dots = (
        cands.join(a, "id_a")
        .join(b, ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every positional k-token gram, then keep
    the MINIMUM hash of each window of ``w`` consecutive grams; the
    distinct kept values are the document's fingerprint set. Guarantees
    any shared run of >= w+k-1 tokens between two documents shares at
    least one fingerprint — the recall bound plain MinHash lacks.

    Spark-first shape: positional grams come from pure array algebra
    (sequence + transform + slice — no per-token row explosion until
    ONE posexplode of the gram-id array), window minima ride a
    (doc, position) rows-frame window — partitioned by document id, so
    at 100 TB the sort is per-document and embarrassingly parallel;
    nothing global. Gram ids are 48-bit md5-reduced
    (shingle_id_portable), so DuckDB reproduces them bit-for-bit.

    This is value-set winnowing: the fingerprint SET of distinct window
    minima (position-free), which is what plagiarism-index joins key
    on; the positional variant only changes the bookkeeping columns.

    Output: (id, n_grams, n_fingerprints) — join-ready; pairs with a
    fingerprint-equality inverted index exactly like jaccard_pairs.
    """
    if k <= 0 or w <= 0:
        raise ValueError("k and w must be positive")
    toks = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    n = F.size("__t")
    n_grams = F.greatest(n - F.lit(k - 1), F.lit(0))
    grams = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.array_join(F.slice(F.col("__t"), i, k), " "),
    )).otherwise(F.array().cast("array<string>"))
    gram_ids = F.transform(grams, lambda g: shingle_id_portable(g))
    pos = toks.select(
        "id",
        n_grams.alias("n_grams"),
        F.posexplode_outer(gram_ids).alias("p", "gid"),
    )
    win = Window.partitionBy("id").orderBy("p").rowsBetween(0, w - 1)
    mins = pos.select(
        "id",
        "n_grams",
        "p",
        F.min("gid").over(win).alias("fp"),
    ).where(
        (F.col("p") <= F.col("n_grams") - w)
        | (F.col("p") == 0)          # short doc (< w grams): one window
        | F.col("p").isNull()        # empty doc (< k tokens): kept, 0 fps
    )
    return mins.groupBy("id").agg(
        F.max("n_grams").alias("n_grams"),
        F.countDistinct("fp").alias("n_fingerprints"),
    )


def _positional_shared_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_token_df: int,
) -> DataFrame:
    """(id, pos, g) rows for every positional k-token gram whose
    cross-document frequency is in [2, max_token_df] — the shared
    inventory both span operators below consume. Same inverted-index
    + df-valve shape as jaccard_pairs: the semi-join on the valved
    gram set is an equi-join (never a cross product), and a gram seen
    in more than ``max_token_df`` documents is boilerplate that would
    quadratically inflate the pair stage, so it is dropped exactly
    like jaccard_pairs' max_token_df valve.

    Grams are carried as 64-bit hashes end to end
    (functions/text.py:hashed_ngrams_from_tokens): the valve
    aggregation, the semi-join back, and the downstream pair joins all
    key on an 8-byte long instead of a ~8·k-char string — the same
    hash-before-explode discipline as jaccard_pairs (measured ~4x
    smaller shuffles there), and the k-gram strings are never even
    materialized. Downstream consumers only ever test gram EQUALITY,
    so the 64-bit identity is sufficient (collision math in the
    hashed_ngrams_from_tokens docstring)."""
    from ..functions.text import hashed_ngrams_from_tokens

    toks = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    grams = toks.select(
        "id",
        F.posexplode(hashed_ngrams_from_tokens(F.col("__t"), k)).alias(
            "pos", "g"
        ),
    )
    valved = (
        grams.groupBy("g")
        .agg(F.count_distinct("id").alias("__df"))
        .where((F.col("__df") >= 2) & (F.col("__df") <= max_token_df))
        .select("g")
    )
    return grams.join(valved, "g").select("id", "pos", "g")


def dup_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_token_df: int = 50,
    min_span_tokens: int = 8,
    persist_shared: bool = True,
) -> DataFrame:
    """Exact duplicated-substring detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document pair, the length in tokens of their LONGEST shared
    verbatim token run, plus the total count of shared positional
    k-grams. The suffix-array of the paper is a single-machine
    structure; the distributed algebra here is equivalent for runs
    >= k tokens: two documents share a t-token run iff they share
    t-k+1 consecutive positional k-grams at a constant position
    offset, so maximal runs are islands of consecutive a-positions
    within a (doc_a, doc_b, offset) group.

    Spark-first shape: ONE inverted-index equi-join on the gram
    (df-valved, so candidate pairs only materialize where a gram is
    genuinely shared and non-boilerplate), then a window partitioned
    by (doc_a, doc_b, offset) — per-pair grain, embarrassingly
    parallel at 100 TB, nothing global — and the classic
    pos - row_number() island trick to merge consecutive matches.

    Output: (doc_a, doc_b, shared_grams, max_span_tokens), filtered to
    max_span_tokens >= min_span_tokens. doc_a < doc_b.

    Cache contract: with ``persist_shared=True`` the returned (lazy)
    frame's lineage references the persisted gram inventory, so the
    operator cannot unpersist it itself — the entry lives in the SQL
    CacheManager until the caller drops it. Long-lived sessions
    invoking this repeatedly should ``spark.catalog.clearCache()``
    (or unpersist via the catalog) between invocations, or pass
    ``persist_shared=False``.
    """
    if min_span_tokens < k:
        raise ValueError("min_span_tokens must be >= k")
    shared = _positional_shared_grams(df, id_col, text_col, k, max_token_df)
    if persist_shared:
        # Both sides of the self-join consume `shared`, and each side
        # otherwise re-runs the scan + tokenize + posexplode pipeline
        # TWICE (once feeding the valve aggregate, once feeding the
        # semi-join back) — four full tokenization passes per query.
        # Unlike jaccard_pairs' full inverted index (recompute wins
        # there, see persist_index), `shared` is already valved down
        # to the genuinely-duplicated gram inventory — tiny relative
        # to the corpus at any scale — so materializing it once is
        # the cheap side of the trade (measured 1.9x on q581 at
        # sf0.1). Set False when the caller persists upstream itself.
        from pyspark import StorageLevel

        shared = shared.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = shared.alias("a"), shared.alias("b")
    pairs = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("doc_a"),
        F.col("b.id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        (F.col("a.pos") - F.col("b.pos")).alias("off"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "off").orderBy("pa")
    isl = pairs.withColumn("grp", F.col("pa") - F.row_number().over(w))
    runs = isl.groupBy("doc_a", "doc_b", "off", "grp").agg(
        F.count(F.lit(1)).alias("run")
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.sum("run").cast("bigint").alias("shared_grams"),
            (F.max("run") + F.lit(k - 1)).cast("bigint").alias(
                "max_span_tokens"
            ),
        )
        .where(F.col("max_span_tokens") >= min_span_tokens)
    )


def dup_token_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_token_df: int = 50,
) -> DataFrame:
    """Per-document duplicated-text mass: the number of token
    positions covered by at least one cross-document-shared k-gram
    (the per-document statistic behind Lee et al.'s "what fraction of
    the corpus is verbatim duplicate" table). A position range
    [pos, pos+k-1] is duplicated if the k-gram starting at pos occurs
    in >= 2 documents; covered tokens are the UNION of those ranges,
    computed exactly by a lag sweep — each start contributes
    min(k, pos - prev_pos) new tokens — on a window partitioned by
    document (per-doc grain, parallel at any scale).

    Output: (id, dup_tokens) for documents with >= 1 shared gram;
    join back to the corpus (left) for zero rows and totals.
    """
    # (id, pos) is already unique: one gram per position, and the valve
    # set is distinct on g — no dedup shuffle needed before the sweep.
    shared = _positional_shared_grams(
        df, id_col, text_col, k, max_token_df
    ).select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    cov = shared.withColumn("prev", F.lag("pos").over(w)).withColumn(
        "add",
        F.when(F.col("prev").isNull(), F.lit(k)).otherwise(
            F.least(F.lit(k), F.col("pos") - F.col("prev"))
        ),
    )
    return cov.groupBy("id").agg(
        F.sum("add").cast("bigint").alias("dup_tokens")
    )


def self_repeat_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_occurrences: int = 20,
) -> DataFrame:
    """Longest WITHIN-document repeated token run (the self-repetition
    detector for templated/looping generated text — the span-level
    sibling of distinct-n diversity): a doc repeats a t-token run iff
    some positional k-gram pair inside it matches at a constant
    positive offset, so maximal self-repeats are the same
    pos - row_number() islands as dup_span_pairs, grouped by
    (doc, offset) instead of (pair, offset).

    The pair stage self-joins each doc's repeated grams (within-doc
    occurrence count >= 2); a gram repeated m times yields m(m-1)/2
    position pairs, so ``max_occurrences`` valves pathological docs
    (a doc that is one token repeated 10^6 times) exactly like
    dup_span_pairs' df valve — dropped grams are boilerplate BY
    DEFINITION of the audit. Per-doc grain throughout: the join key is
    (doc, gram) and the window is (doc, offset) — parallel at any
    corpus size.

    Output: (id, max_self_span_tokens) for docs with >= 1 repeated
    k-gram.

    Grams ride as 64-bit hashes (hashed_ngrams_from_tokens) — the
    repeat-count aggregate and the join back key on longs, and the
    gram strings are never built (same discipline and collision math
    as _positional_shared_grams).
    """
    from ..functions.text import hashed_ngrams_from_tokens

    toks = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    grams = toks.select(
        "id",
        F.posexplode(hashed_ngrams_from_tokens(F.col("__t"), k)).alias(
            "pos", "g"
        ),
    )
    rep = (
        grams.groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("__m"))
        .where((F.col("__m") >= 2) & (F.col("__m") <= max_occurrences))
        .select("id", "g")
    )
    shared = grams.join(rep, ["id", "g"])
    a, b = shared.alias("a"), shared.alias("b")
    pairs = a.join(
        b,
        (F.col("a.id") == F.col("b.id"))
        & (F.col("a.g") == F.col("b.g"))
        & (F.col("a.pos") > F.col("b.pos")),
    ).select(
        F.col("a.id").alias("id"),
        F.col("a.pos").alias("pa"),
        (F.col("a.pos") - F.col("b.pos")).alias("off"),
    )
    w = Window.partitionBy("id", "off").orderBy("pa")
    isl = pairs.withColumn("grp", F.col("pa") - F.row_number().over(w))
    runs = isl.groupBy("id", "off", "grp").agg(
        F.count(F.lit(1)).alias("run")
    )
    return runs.groupBy("id").agg(
        (F.max("run") + F.lit(k - 1)).cast("bigint").alias(
            "max_self_span_tokens"
        )
    )


def segment_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    carry_cols: list[str] | None = None,
    seg_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicated-SEGMENT audit — the CCNet/RefinedWeb boilerplate-line
    removal step (Wenzek et al. 2020 dedup CC at the paragraph/line
    grain; Penedo et al. 2023 repeat it line-level): chop each document
    into disjoint ``seg_tokens``-token segments (the whitespace-free
    synthetic corpus has no newlines — on real data pass the text
    pre-split on '\\n'; the segment grain is a parameter, not a
    semantic), mark every segment whose exact text occurs in
    >= ``min_docs`` DISTINCT documents, and report per-document how
    much token mass a line-dedup pass would strip.

    Spark shape: segmentation is pure map-side array algebra
    (sequence + posexplode + slice — same layout as
    operators/chunking.py:chunk_tokens); the only shuffle is the
    groupBy on segment text for the distinct-doc count plus the join
    back (both hash-partitioned on the segment — no skew beyond true
    boilerplate, which is exactly what the ``min_docs`` mark is for).
    The count/join key is xxhash64 of the segment's token slice (not
    the segment string, which is never built): shuffle and broadcast
    bytes shrink ~8x and the concat_ws allocation disappears;
    collisions are the immaterial n²/2⁶⁴ of the q19 precedent, and the
    DuckDB twin's string grouping remains value-identical because
    token arrays and their space-joined strings are bijective under
    whitespace tokenization.

    Output grain: one row per INPUT document — zero-token documents
    (no segments) come back with n_tok=0 and zeroed counters rather
    than vanishing, so n_docs totals built on this frame reconcile
    with sibling per-doc audits (q591/q601) on corpora with empty
    docs. Empty docs ride the SAME pipeline via ``posexplode_outer``
    (one NULL-segment row that no count can match, zeroed in the
    per-doc aggregate) — NOT a second scan + totalizing join, which
    re-tokenized the corpus and cost 1.6x on the q588 bench.
    """
    carry = list(carry_cols or [])
    toks = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in carry],
        tokens(text_col).alias("__t"),
    )
    n = F.size("__t")
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(seg_tokens))
    ).otherwise(F.array().cast("array<int>"))
    has_seg = F.col("__s").isNotNull()
    segs = toks.select(
        "id",
        *carry,
        n.cast("bigint").alias("n_tok"),
        "__t",
        F.posexplode_outer(starts).alias("__i", "__s"),
    ).select(
        "id",
        *carry,
        "n_tok",
        # the 64-bit segment identity, hashed straight off the token
        # slice: the count aggregate, its two exchanges, and the join
        # back key on 8-byte longs, and the segment STRING (formerly
        # concat_ws of up to seg_tokens words) is never materialized —
        # the "swap the join key for xxhash64(segment)" scale note
        # below, now the implementation (token arrays and their
        # space-joined strings are bijective here, tokens() splits on
        # whitespace; collision math as in hashed_ngrams_from_tokens)
        F.when(
            has_seg,
            F.xxhash64(F.slice("__t", F.col("__s") + 1, seg_tokens)),
        ).alias("seg"),
        F.when(
            has_seg,
            F.least(F.lit(seg_tokens), F.col("n_tok") - F.col("__s")),
        )
        .cast("bigint")
        .alias("seg_len"),
    )
    counts = segs.where(F.col("seg").isNotNull()).groupBy("seg").agg(
        F.count_distinct("id").alias("__nd")
    )
    dup = F.col("__nd") >= min_docs
    return (
        segs.join(counts, "seg", "left")
        .groupBy("id", *carry)
        .agg(
            F.max("n_tok").alias("n_tok"),
            F.sum(F.when(F.col("seg").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_seg"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("bigint").alias("dup_seg"),
            F.sum(F.when(dup, F.col("seg_len")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("dup_tok"),
        )
    )
