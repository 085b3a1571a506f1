"""Deduplication operator family for training-data pipelines.

Four strategies with different recall/cost points, all shuffle-architected
for 100 TB:

* **Exact** — md5 content hash, one groupBy (one shuffle on the hash;
  map-side partial aggregation makes skew benign).
* **N-gram Jaccard** — shingle explode + self-join on shingle; exact but
  O(pairs-sharing-a-shingle). Use only to verify candidates, never as the
  primary all-pairs pass.
* **MinHash + LSH** — portable md5-derived token hashes -> per-permutation
  min -> band buckets -> candidates joined per bucket -> exact-Jaccard
  verification of candidates only. The classic scalable near-dup plan:
  cost ~ O(n · sig) + O(candidate pairs), never all-pairs.
* **SimHash** — 32-bit sign-aggregated token-hash signature; hamming
  distance on signatures for near-dup detection.

Hash portability: ``token_hash48`` is ``int(md5(token)[:12], 16)`` —
expressible identically in Spark (``conv(substr(md5(t),1,12),16,10)``) and
DuckDB (``('0x' || substr(md5(t),1,12))::BIGINT``), so every stage is
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_data_lakehouse_spark.functions.skew import in_group_pairs

__all__ = [
    "token_hash48",
    "content_hash",
    "exact_dedup",
    "word_shingles",
    "jaccard_pairs",
    "containment_pairs",
    "MINHASH_PERMS",
    "minhash_signature",
    "lsh_candidate_pairs",
    "lsh_pairs_and_signatures",
    "lsh_probe",
    "simhash32",
    "simhash32_features",
    "MERSENNE_P",
    "OPH_BINS",
    "OPH_N_BANDS",
    "OPH_BAND_ROWS",
    "oph_signature",
    "oph_lsh_pairs",
    "connected_components",
]

#: Large prime for the universal hash family (fits comfortably in int64
#: products with 48-bit inputs when coefficients stay < 2^15).
MERSENNE_P = 2_147_483_647  # 2^31 - 1

#: Shingle join separator (ASCII unit separator).
SHINGLE_SEP = "\x1f"

#: Deterministic (a, b) coefficients for the minhash permutations
#: h_j(x) = (a_j * x + b_j) mod P — generated by a fixed LCG so both the
#: Spark side and the SQL oracle can hardcode identical values.
_N_PERMS = 12


def _lcg_coeffs(n: int) -> list[tuple[int, int]]:
    out, state = [], 42
    for _ in range(n):
        state = (1103515245 * state + 12345) % (2**31)
        a = state % 30000 + 1
        state = (1103515245 * state + 12345) % (2**31)
        b = state % 30000
        out.append((a, b))
    return out


MINHASH_PERMS: list[tuple[int, int]] = _lcg_coeffs(_N_PERMS)
#: Bands of 2 rows each -> 6 bands; near-dup probability ramps at J~0.5.
BAND_ROWS = 2
N_BANDS = _N_PERMS // BAND_ROWS

#: One-permutation-hashing bin count (power of two; estimator resolution
#: 1/OPH_BINS, like a 16-permutation classic sketch at 1/16 the hashing).
OPH_BINS = 16


def token_hash48(token: Column) -> Column:
    """Portable 48-bit token hash: int(md5[:12], 16)."""
    return F.conv(F.substring(F.md5(token), 1, 12), 16, 10).cast("bigint")


def content_hash(text: Column) -> Column:
    return F.md5(text)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per content hash (deterministic
    representative), return (survivor id, hash, duplicate count)."""
    return (
        df.select(F.col(id_col), content_hash(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _dfcap_counted_pairs(
    sets: DataFrame, max_df: int, pair_cond_sql: str
) -> DataFrame:
    """Count-based candidate scoring for the df-capped family ("decide
    with small rows"): per df <= max_df shingle, fold the (sid, sz)
    postings into an array (ONE shingle-keyed exchange), emit the
    in-group pairs that survive ``pair_cond`` (a lossless length bound)
    with :func:`skew.in_group_pairs`, and aggregate the SHARED-RARE
    COUNT ``c`` per pair instead of de-duplicating pairs and
    intersecting full shingle arrays.

    ``c`` brackets the true intersection ``I``: every shared rare
    shingle is counted, and shared non-rare shingles number at most
    ``slack = min(sz_a - nr_a, sz_b - nr_b)`` (``nr`` = the doc's rare-
    shingle count), so ``c <= I <= c + slack``. Callers decide
    threshold membership from the bracket (float-safe: correctly-rounded
    division is monotone, so a bound that passes/fails the threshold
    implies the true value does too) and array-verify ONLY the
    undecided middle — empty on closed-vocabulary corpora where every
    shingle is capped (slack == 0 makes ``c == I`` exact), tiny on open
    ones. ``pair_cond_sql`` is a SQL predicate over struct vars ``a``
    and ``b`` (fields sid, sz) — generated SQL, not Column lambdas
    (driver-chattiness, see :func:`_minhash_cols`). Returns
    (id_a, id_b, sz_a, sz_b, c, slack)."""
    from pyspark.sql.window import Window

    sh = sets.select(
        "sid", F.size("shset").alias("sz"), F.explode("shset").alias("shingle")
    )
    # df is counted by a window over the shingle partition (its buffer
    # spills) and filtered BEFORE the fold, so a stop-shingle's postings
    # never land in one collect_list buffer; the groupBy reuses the
    # window's shingle partitioning (one exchange).
    grp = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .filter(F.col("df") <= max_df)
        .groupBy("shingle")
        .agg(F.collect_list(F.struct("sid", "sz")).alias("xs"))
        .persist()
    )
    pc = (
        in_group_pairs(grp, "xs", pair_cond_sql)
        .groupBy(
            F.col("a.sid").alias("id_a"),
            F.col("b.sid").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nr = grp.select(F.explode("xs").alias("x")).groupBy(
        F.col("x.sid").alias("sid")
    ).agg(F.count(F.lit(1)).alias("nr"))
    return (
        pc.join(
            nr.select(F.col("sid").alias("id_a"), F.col("nr").alias("nr_a")),
            "id_a",
        )
        .join(
            nr.select(F.col("sid").alias("id_b"), F.col("nr").alias("nr_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            "c",
            F.least(
                F.col("sz_a") - F.col("nr_a"), F.col("sz_b") - F.col("nr_b")
            ).alias("slack"),
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (set semantics), unit-separator joined
    (0x1F prevents token-boundary collisions like ab+c vs a+bc)."""
    toks = F.split(text, " ", -1)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(SHINGLE_SEP, F.slice(toks, i + 1, k))
    )
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array(F.concat_ws(SHINGLE_SEP, toks))
    )


def _shingle_table(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    # Round-robin repartition BEFORE the explode: a compact parquet source
    # yields few input splits, which would serialize the (much heavier)
    # shingle/hash work; the shuffle moves only the raw docs.
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("sid"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    )


def _sets_table(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(sid, shset, hs): per-doc distinct shingle ARRAY plus its 48-bit
    hash array — the shuffle-free twin of :func:`_shingle_table` +
    ``groupBy(sid)`` (r13 optimization, guide §2.4).

    Every per-doc aggregate the explode+groupBy pipeline produced (set
    size, minhash mins, OPH bin mins) folds over ``hs`` with array
    higher-order functions instead, so the signature pass moves ZERO rows
    through an exchange — the explode+groupBy twin shuffled the entire
    exploded shingle table (the pipeline's dominant shuffle at any
    scale). The round-robin repartition spreads the md5 hashing work
    across cores; it moves only the raw docs."""
    return _shset_table(df, id_col, text_col, k).withColumn(
        "hs", F.transform("shset", token_hash48)
    )


def _shset_table(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(sid, shset): per-doc distinct shingle arrays, built lazily and NOT
    persisted — the verification surface (r14, guide §5). r13 persisted
    this alongside the signatures; the driver's bench showed the cache
    materialization of full-corpus shingle arrays costing more than the
    shuffle it saved (oph_lsh_pairs +50-80%), and at 100 TB a cached
    array-of-strings corpus is a memory/spill hazard. Candidate-bounded
    verify joins recompute the arrays from the scan instead (no md5 —
    only the signature path hashes)."""
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).select(
        F.col(id_col).alias("sid"),
        word_shingles(F.col(text_col), k).alias("shset"),
    )


def _minhash_cols() -> list[Column]:
    """Minhash signature columns over the ``hs`` hash array: min of each
    universal-hash permutation via array fold — identical values to the
    groupBy(min) form (same arithmetic over the same distinct shingles).

    Generated SQL, not nested Column calls (r14): the per-permutation
    Column API cost ~10 py4j round-trips each; query CONSTRUCTION time
    was measured at ~3 s per invocation on the selectivity diagnostic
    (same driver-chattiness lesson as pq_encode). Semantics identical —
    same HOFs, same integer arithmetic."""
    return [
        F.expr(
            f"array_min(transform(hs, h -> ({a} * h + {b}) % {MERSENNE_P}))"
        ).alias(f"mh_{j}")
        for j, (a, b) in enumerate(MINHASH_PERMS)
    ]


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard pairs (a < b) with similarity >= threshold.

    Shingle self-join: candidate pairs are only those sharing >= 1 shingle;
    intersection counts come from the join, set sizes from a groupBy.
    """
    sh = _shingle_table(df, id_col, text_col, k).persist()
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("sid").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("sid").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dfcap_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 64,
) -> DataFrame:
    """Exact-verified Jaccard pairs with DF-CAPPED candidate generation —
    the stop-shingle survival lever (round 12, measured).

    :func:`jaccard_pairs`'s raw shingle self-join costs sum(df^2) over
    shingle document frequencies. On real corpora that sum is dominated
    by boilerplate/stop-shingles ("one of the"-class trigrams whose df is
    a constant FRACTION of the corpus), so it grows quadratically no
    matter how open the vocabulary is: the Zipf(1.5) stress fixture
    measured 332 s / ratio 123x at sf1.0 where the realistic open-vocab
    fixture is linear (SCALE_BENCH.md, r12). The standard production
    trade (CCNet/BigCode-style): generate candidates ONLY from shingles
    with df <= max_df — sum over capped shingles is <= max_df * corpus
    shingle count, i.e. linear — then verify TRUE Jaccard over each
    candidate pair's FULL shingle sets (two candidate-bounded equi-joins,
    never the raw self-join). Recall condition, stated not hidden: a
    qualifying pair is missed only if EVERY shared shingle has
    df > max_df — near-dups made of nothing but boilerplate; those are
    the LSH/SimHash families' catch.

    Verification is PAIR-LOCAL: candidates join the per-doc shingle
    ARRAYS (one row per pair) and intersect with array ops, instead of
    re-exploding shingle rows per candidate (which would multiply the
    candidate count by document size — measured as the dominant cost of
    the first cut of this operator).

    Candidate generation + verification (r14, guide §2.4/§8): one
    groupBy(shingle) folds each df <= max_df shingle's (sid, sz)
    postings into an array and emits the in-group pairs directly — the
    r13 shape paid a df aggregate + a join-back of the exploded table +
    a self-join + distinct, then intersected full shingle arrays per
    candidate pair. Instead the pairs aggregate their SHARED-RARE COUNT
    ``c`` (see :func:`_dfcap_counted_pairs`): where ``c`` pins the true
    intersection (closed-vocabulary corpora: always), the Jaccard value
    comes straight from the counts; only the undecided middle joins the
    shingle arrays. The lossless PPJoin size bound (J >= t forces
    min(|A|,|B|) >= t*max(|A|,|B|)) is applied at generation time."""
    sets = (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(
            F.col(id_col).alias("sid"),
            word_shingles(F.col(text_col), k).alias("shset"),
        )
        .persist()
    )
    pc = _dfcap_counted_pairs(
        sets,
        max_df,
        "b.sid > a.sid AND least(a.sz, b.sz) >= "
        f"{float(threshold)!r}D * greatest(a.sz, b.sz)",
    )
    i_hi = F.col("c") + F.col("slack")
    # slack == 0 pins I == c: the value expression is float-identical to
    # the array-verified one (same integer operands, same division).
    decided = (
        pc.filter(F.col("slack") == 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("c") / (F.col("sz_a") + F.col("sz_b") - F.col("c")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # undecided middle: could still reach t at I = c + slack — verify
    # over the full arrays (rejection via the upper bound is float-safe:
    # correctly-rounded division is monotone in I)
    maybe = pc.filter(
        (F.col("slack") > 0)
        & (
            F.round(i_hi / (F.col("sz_a") + F.col("sz_b") - i_hi), 6)
            >= threshold
        )
    ).select("id_a", "id_b")
    sa = sets.select(F.col("sid").alias("id_a"), F.col("shset").alias("set_a"))
    sb = sets.select(F.col("sid").alias("id_b"), F.col("shset").alias("set_b"))
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    verified = (
        maybe.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                n_inter
                / (F.size("set_a") + F.size("set_b") - n_inter),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return decided.unionAll(verified)


def dfcap_containment_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 64,
) -> DataFrame:
    """DF-capped twin of :func:`containment_pairs` — candidates from
    df <= max_df shingles, TRUE directional containment C(A->B) =
    |A∩B|/|A| verified over full shingle sets. Exists because the raw
    containment self-join measurably DIES under stop-shingle df (stress
    fixture, r12: executor OOM at sf1.0 where the capped plan completes
    — SCALE_BENCH.md). Same recall condition as
    :func:`dfcap_jaccard_pairs`; both directions of each candidate pair
    are emitted (containment is asymmetric). Verification is pair-local
    over per-doc shingle arrays, as in :func:`dfcap_jaccard_pairs`.

    Candidate generation + verification (r14, guide §2.4/§8): as in
    :func:`dfcap_jaccard_pairs`, one groupBy(shingle) folds the postings
    and emits ordered in-group pairs directly, aggregating the shared-
    rare count ``c`` per pair (:func:`_dfcap_counted_pairs`); where
    ``c`` pins the intersection the containment value comes from the
    counts, and only the undecided middle joins the arrays. The lossless
    directional length bound (C(A->B) >= t needs |B| >= |A∩B| >= t*|A|)
    is applied at generation time."""
    sets = (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(
            F.col(id_col).alias("sid"),
            word_shingles(F.col(text_col), k).alias("shset"),
        )
        .persist()
    )
    pc = _dfcap_counted_pairs(
        sets,
        max_df,
        f"b.sid != a.sid AND b.sz >= {float(threshold)!r}D * a.sz",
    )
    decided = (
        pc.filter(F.col("slack") == 0)
        .withColumn("containment", F.round(F.col("c") / F.col("sz_a"), 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    maybe = pc.filter(
        (F.col("slack") > 0)
        & (
            F.round((F.col("c") + F.col("slack")) / F.col("sz_a"), 6)
            >= threshold
        )
    ).select("id_a", "id_b")
    sa = sets.select(F.col("sid").alias("id_a"), F.col("shset").alias("set_a"))
    sb = sets.select(F.col("sid").alias("id_b"), F.col("shset").alias("set_b"))
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    verified = (
        maybe.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "containment", F.round(n_inter / F.size("set_a"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return decided.unionAll(verified)


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Directional shingle containment C(A->B) = |A∩B| / |A| >= threshold.

    Asymmetric by design: a document fully embedded in a larger one scores
    1.0 in that direction even when Jaccard is low — the sub-document /
    quote / boilerplate-inclusion detector Jaccard misses. Same bounded
    self-join shape as :func:`jaccard_pairs` (candidates only from
    shingle-sharing pairs), one extra direction of output rows.
    """
    sh = _shingle_table(df, id_col, text_col, k).persist()
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.sid") != F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("sid").alias("id_a"), F.col("sz").alias("sz_a"))
    return (
        inter.join(sa, "id_a")
        .withColumn(
            "containment", F.round(F.col("n_inter") / F.col("sz_a"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_signature(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document minhash signature.

    One projection over the per-doc shingle-hash ARRAY (array_min of each
    permutation) — zero shuffles regardless of permutation count (r13:
    previously one explode + one groupBy, which exchanged the entire
    exploded shingle table). Values are identical: the same universal
    hashes over the same distinct shingles, folded per doc instead of
    aggregated across exploded rows.
    """
    return _sets_table(df, id_col, text_col, k).select(
        F.col("sid").alias(id_col), *_minhash_cols()
    )


def oph_signature(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """One-permutation-hashing minhash (Shrivastava & Li, ICML'14) with
    rotation densification (their NeurIPS'14 follow-up).

    Classic k-perm MinHash evaluates k universal hashes per shingle —
    at 100 TB the signature pass IS the dedup cost, and it scales with
    k. OPH hashes each shingle ONCE, partitions the hash space into
    OPH_BINS bins (bin = h mod B), and keeps the min per bin: the same
    per-bin collision probability ~J as a true permutation, at 1/k the
    hashing. Bins a document leaves empty (P = (1-1/B)^|shingles|, real
    for short docs) are densified by cyclic borrowing from the next
    non-empty bin to the right, keeping the elementwise-agreement
    estimator unbiased and signatures comparable across docs.

    Plan shape (r13): one projection over the per-doc shingle-hash array
    — B per-bin array_min folds, zero shuffles (previously one explode +
    one groupBy; values identical). Densification stays a coalesce
    projection.
    """
    raw = _sets_table(df, id_col, text_col, k).select(
        F.col("sid").alias(id_col), *_oph_raw_cols()
    )
    return raw.select(id_col, *_oph_dense_cols())


def _oph_raw_cols() -> list[Column]:
    """Per-bin OPH minima over the ``hs`` hash array: min of the hashes
    landing in each bin (null when the doc leaves the bin empty — exactly
    the groupBy ``min(when(...))`` semantics, since array_min skips the
    nulls the filter-less transform would produce). Generated SQL per
    bin (r14 driver-chattiness fix, see :func:`_minhash_cols`)."""
    return [
        F.expr(
            f"array_min(filter(hs, h -> pmod(h, {OPH_BINS}) = {j}))"
        ).alias(f"raw_{j}")
        for j in range(OPH_BINS)
    ]


def _oph_dense_cols() -> list[Column]:
    """Rotation-densified OPH columns over ``raw_0..raw_{B-1}`` —
    cyclic coalesce per bin, as one generated-SQL expression each
    (r14 driver-chattiness fix: the Column-API form was 16 coalesce
    calls x 16 column refs = ~256 py4j round-trips per invocation)."""
    return [
        F.expr(
            "coalesce("
            + ", ".join(f"raw_{(j + i) % OPH_BINS}" for i in range(OPH_BINS))
            + ")"
        ).alias(f"oph_{j}")
        for j in range(OPH_BINS)
    ]


#: OPH banding: 8 bands of 2 bins — the same S-curve knee (~J=0.5) as the
#: classic 6x2 sketch, on the 1-hash signature.
OPH_BAND_ROWS = 2
OPH_N_BANDS = OPH_BINS // OPH_BAND_ROWS


def oph_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup pairs on the OPH sketch: the end-to-end cheap
    path (1 hash/shingle for signatures, band-keyed equi-join for
    candidates, exact Jaccard verification) — same output contract as
    :func:`lsh_candidate_pairs`, ~1/k the signature hashing.

    r13 plan shape: signatures fold over the per-doc shingle-hash array
    (zero-shuffle, see :func:`_sets_table`) and verification is
    PAIR-LOCAL over the per-doc shingle arrays (one array_intersect per
    candidate pair) instead of a per-candidate re-join of exploded
    shingle rows + pair groupBy — the same trade the dfcap family
    measured at 37x on the stress corpus. The ``n_inter > 0`` guard
    preserves the old inner-join semantics (a hash-collision candidate
    pair sharing no shingle never surfaces, at any threshold).

    r14 (guide §5): the persisted per-doc projection is NARROW — sid +
    OPH bins only. r13 persisted the shingle arrays too, and the driver
    measured the array cache costing more than it saved; the verify
    joins now rebuild (sid, shset) lazily (:func:`_shset_table`) and
    take sizes from the arrays themselves (``sz == size(shset)`` by
    construction)."""
    raw = _sets_table(df, id_col, text_col, k).select(
        "sid", *_oph_raw_cols()
    )
    per_doc = raw.select("sid", *_oph_dense_cols()).persist()
    band_keys = ", ".join(
        "concat_ws(':', '{b}', {cols})".format(
            b=band,
            cols=", ".join(
                f"CAST(oph_{band * OPH_BAND_ROWS + r} AS STRING)"
                for r in range(OPH_BAND_ROWS)
            ),
        )
        for band in range(OPH_N_BANDS)
    )
    bucket = per_doc.select(
        "sid", F.expr(f"explode(array({band_keys}))").alias("bkey")
    )
    l, r = bucket.alias("l"), bucket.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.sid") < F.col("r.sid")),
        )
        .select(F.col("l.sid").alias("id_a"), F.col("r.sid").alias("id_b"))
        .distinct()
    )
    sets = _shset_table(df, id_col, text_col, k)
    sa = sets.select(
        F.col("sid").alias("id_a"), F.col("shset").alias("set_a")
    )
    sb = sets.select(
        F.col("sid").alias("id_b"), F.col("shset").alias("set_b")
    )
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_inter", n_inter)
        .filter(F.col("n_inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("set_a") + F.size("set_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified.

    Banding: signature split into N_BANDS bands of BAND_ROWS values; docs
    agreeing on ALL values of any band become candidates (join per band on
    the band key — a shuffle whose width is the true candidate volume, not
    n^2). Candidates then verified with exact Jaccard on shingle sets.
    """
    return lsh_pairs_and_signatures(df, threshold, k, id_col, text_col)[0]


def lsh_pairs_and_signatures(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """:func:`lsh_candidate_pairs` plus the signature table it built.

    Consumers that need BOTH the verified pairs and the per-doc minhash
    signatures (estimator-error audits, incremental index maintenance)
    get them from ONE shingle pass — calling lsh_candidate_pairs and
    minhash_signature separately shingles and aggregates the corpus
    twice. Returns ``(pairs, signatures)`` where signatures has
    ``(id_col, mh_0..mh_{n-1})``.

    r13 plan shape (guide §2.4, measured 38 -> 25 stages at sf0.1): one
    per-doc (sid, mh_*) projection — signatures fold over the
    hash array with ZERO shuffles where the explode+groupBy twin
    exchanged the whole exploded shingle table — and candidate
    verification is PAIR-LOCAL (array_intersect over the candidate
    pair's two shingle arrays) instead of a per-candidate re-join of
    exploded shingle rows + pair groupBy + two size joins. Values are
    identical: same hashes, same distinct shingles, same rounding; the
    ``n_inter > 0`` guard keeps the old inner-join semantics for
    hash-collision candidates sharing no shingle.

    r14 (guide §5): the persisted projection is NARROW (sid + 12 ints);
    the verify joins rebuild the shingle arrays lazily
    (:func:`_shset_table`) and take set sizes from the arrays
    (``sz == size(shset)`` by construction) — r13's cached full-corpus
    array table cost more to materialize than it saved, per the
    driver's bench.
    """
    per_doc = (
        _sets_table(df, id_col, text_col, k)
        .select("sid", *_minhash_cols())
        .persist()
    )
    bucket = _bucket_table(per_doc)
    l, r = bucket.alias("l"), bucket.alias("r")
    cand = (
        l.join(r, (F.col("l.bkey") == F.col("r.bkey"))
               & (F.col("l.sid") < F.col("r.sid")))
        .select(F.col("l.sid").alias("id_a"), F.col("r.sid").alias("id_b"))
        .distinct()
    )
    # exact verification of the (small) candidate set, pair-local
    sets = _shset_table(df, id_col, text_col, k)
    sa = sets.select(
        F.col("sid").alias("id_a"), F.col("shset").alias("set_a")
    )
    sb = sets.select(
        F.col("sid").alias("id_b"), F.col("shset").alias("set_b")
    )
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    pairs = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("n_inter", n_inter)
        .filter(F.col("n_inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("set_a") + F.size("set_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    sig = per_doc.select(
        F.col("sid").alias(id_col),
        *[F.col(f"mh_{j}") for j in range(len(MINHASH_PERMS))],
    )
    return pairs, sig


def _bucket_table(per_doc: DataFrame) -> DataFrame:
    """LSH band-bucket keys from a signature table: all bands in one
    narrow explode (a per-band union would re-aggregate N_BANDS times).
    Generated SQL (r14 driver-chattiness fix, see :func:`_minhash_cols`)."""
    band_keys = ", ".join(
        "concat_ws(':', '{b}', {cols})".format(
            b=band,
            cols=", ".join(
                f"CAST(mh_{band * BAND_ROWS + r} AS STRING)"
                for r in range(BAND_ROWS)
            ),
        )
        for band in range(N_BANDS)
    )
    return per_doc.select(
        F.col("sid"), F.expr(f"explode(array({band_keys}))").alias("bkey")
    )


def lsh_probe(
    corpus: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Probe an LSH index with an incoming batch (the incremental dedup
    gate): corpus signatures/buckets on one side, incoming on the other,
    candidates from the bucket EQUI-join (never a self-join), exact
    Jaccard verification on the candidate set only.

    At scale the corpus side is a materialized signature/bucket table
    maintained incrementally (append per ingested batch); each new batch
    pays only its own shingle/signature cost plus a probe join whose
    width is the candidate volume. Returns (incoming_id, corpus_id,
    jaccard) at ``jaccard >= threshold``.
    """
    pc = (
        _sets_table(corpus, id_col, text_col, k)
        .select("sid", *_minhash_cols())
        .persist()
    )
    pi = _sets_table(incoming, id_col, text_col, k).select(
        "sid", *_minhash_cols()
    ).persist()
    bc = _bucket_table(pc)
    bi = _bucket_table(pi)
    cand = (
        bi.alias("i")
        .join(bc.alias("c"), F.col("i.bkey") == F.col("c.bkey"))
        .select(
            F.col("i.sid").alias("incoming_id"), F.col("c.sid").alias("corpus_id")
        )
        .distinct()
    )
    # pair-local verification over the two shingle arrays (r13; same
    # values as the exploded-shingle re-join + pair groupBy it replaces).
    # r14: arrays rebuilt lazily per side — the persisted signature
    # tables stay NARROW (guide §5), sizes come from the arrays.
    si = _shset_table(incoming, id_col, text_col, k).select(
        F.col("sid").alias("incoming_id"), F.col("shset").alias("set_i")
    )
    sc = _shset_table(corpus, id_col, text_col, k).select(
        F.col("sid").alias("corpus_id"), F.col("shset").alias("set_c")
    )
    n_inter = F.size(F.array_intersect(F.col("set_i"), F.col("set_c")))
    return (
        cand.join(si, "incoming_id")
        .join(sc, "corpus_id")
        .withColumn("n_inter", n_inter)
        .filter(F.col("n_inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("set_i") + F.size("set_c") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("incoming_id", "corpus_id", "jaccard")
    )


def simhash32_features(
    feats: DataFrame, id_col: str = "doc_id", feat_col: str = "f"
) -> DataFrame:
    """32-bit SimHash from an exploded (id, feature) table: bit b of the
    signature is 1 iff the sum of +/-1 votes from feature-hash bit b is
    positive. One groupBy (single shuffle) over whatever feature space
    the caller chose — distinct tokens (:func:`simhash32`) or k-word
    shingles (the Manku block index)."""
    # generated SQL per vote/bit (r14 driver-chattiness fix, see
    # _minhash_cols): semantics identical to the Column-API form
    h = f"CAST(conv(substr(md5({feat_col}), 1, 12), 16, 10) AS BIGINT)"
    votes = [
        F.expr(
            f"SUM(CASE WHEN (shiftright({h}, {b}) & 1) = 1 "
            "THEN 1 ELSE -1 END)"
        ).alias(f"v_{b}")
        for b in range(32)
    ]
    agg = feats.groupBy(id_col).agg(*votes)
    sig = " + ".join(
        f"CASE WHEN v_{b} > 0 THEN CAST({2**b} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
        for b in range(32)
    )
    return agg.select(F.col(id_col), F.expr(sig).alias("simhash"))


def simhash32(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash over the distinct-token set (set semantics).

    r14 (guide §2.4): folds over the per-doc distinct-token hash array —
    ZERO shuffles (previously one explode + one groupBy, which exchanged
    the whole exploded token table). Bit b is 1 iff the +/-1 vote sum is
    positive, i.e. iff 2 * (#hashes with bit b set) > #tokens — the same
    integer votes over the same md5 hashes as the groupBy form. One
    generated-SQL expression per stage (driver-chattiness fix, see
    :func:`_minhash_cols`)."""
    hs_sql = (
        f"transform(array_distinct(split({text_col}, ' ', -1)), "
        "t -> CAST(conv(substr(md5(t), 1, 12), 16, 10) AS BIGINT))"
    )
    sig_sql = " + ".join(
        f"CASE WHEN 2 * size(filter(_hs, h -> (shiftright(h, {b}) & 1) = 1))"
        f" - size(_hs) > 0 THEN CAST({2**b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for b in range(32)
    )
    return (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col), F.expr(hs_sql).alias("_hs"))
        .select(F.col(id_col), F.expr(sig_sql).alias("simhash"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: min-label propagation until
    fixpoint. Returns (doc_id, cluster_id) where cluster_id is the smallest
    member id — the canonical survivor.

    Near-dup similarity is not transitive, so pair output alone
    under-merges; training-data dedup keeps ONE doc per connected
    component. Each iteration is one join + one groupBy on the (small,
    candidate-bounded) edge set PLUS a label-of-label shortcut (pointer
    doubling over the label table itself), so the min label travels
    2^round hops per round and the loop converges in O(log diameter)
    rounds — plain one-hop propagation needs O(diameter) rounds and
    silently mislabeled a 30-node chain at max_iter=25. With doubling,
    max_iter=25 covers diameters up to 2^25; the alternative at web
    scale is :func:`connected_components_star` (same output contract,
    O(log^2 n) rounds without the per-round label self-join).

    Small-graph fast path: verified near-dup edge sets are usually
    metadata-scale (LSH-bounded candidates x Jaccard-verify leaves a few
    hundred pairs per million docs), while every checkpointed propagation
    round costs a fixed multi-job scheduling overhead (~1 s on local[32])
    regardless of size — 2.8 s to label a 533-edge graph. When the
    symmetric edge count (already materialized by the persist the loop
    needs) is at most ``small_graph_threshold``, the edges are collected
    and union-find runs on the driver — microseconds, identical output
    contract (min member id), deterministic. Above the threshold the
    distributed loop runs unchanged; at 100 TB with billions of edges the
    fast path never triggers. Pass ``small_graph_threshold=0`` to force
    the distributed path (the property suite exercises both).
    """
    # NULL ids carry no edge identity: drop them up front so the driver
    # union-find fast path (Python `<` on ids) and the distributed
    # propagation path (join/groupBy semantics) see the SAME edge set and
    # agree on every input (ADVICE r9 — previously a NULL id raised
    # TypeError on the fast path but was silently dropped/isolated by the
    # joins on the distributed path).
    nn = pairs.filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    sym = nn.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionAll(
        nn.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct().persist()
    n_sym = sym.count()
    if n_sym <= small_graph_threshold:
        # metadata-scale collect (bounded by the threshold, annotated);
        # the full symmetric set keeps self-loop-only nodes labeled, same
        # as the distributed path
        edges = sym.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edges:
            a, b = r.src, r.dst
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min so the root IS the canonical min member
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(n, find(n)) for n in parent]
        id_type = sym.schema["src"].dataType
        out_schema = T.StructType(
            [
                T.StructField("doc_id", id_type),
                T.StructField("cluster_id", id_type),
            ]
        )
        spark = pairs.sparkSession
        sym.unpersist()
        return spark.createDataFrame(rows, out_schema)
    # Initialization folds the would-be round 0 in for free: instead of
    # identity labels (whose first propagation round ALWAYS changes every
    # non-minimal node and so always costs a full checkpointed round),
    # start each node at min(node, min neighbor) via one groupBy over the
    # symmetric edge set. Shallow graphs — the common dedup case, planted
    # pairs/triples — then converge on loop round 0 (no change → break),
    # one checkpointed round instead of two.
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("nmin"))
        .select(
            "node",
            F.least(F.col("node"), F.col("nmin")).alias("cluster_id"),
        )
        .localCheckpoint()
    )
    for it in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # Pointer doubling: also chase node -> label -> label-of-label.
        # Every cluster_id is itself a node id (labels start at
        # min-of-neighborhood and only ever take mins of other labels),
        # so the self-join on the label table resolves; it is what
        # upgrades one-hop-per-round propagation to 2^round hops per
        # round. Labels are already non-identity at round 0 (fused
        # initialization above), so doubling runs from the first round.
        lol = (
            labels.alias("l1")
            .join(
                labels.alias("l2"),
                F.col("l1.cluster_id") == F.col("l2.node"),
            )
            .select(
                F.col("l1.node").alias("node"),
                F.col("l2.cluster_id").alias("lol_min"),
            )
        )
        nbr_min = (
            nbr_min.join(lol, "node", "full")
            .select(
                "node",
                F.least(
                    F.coalesce("nbr_min", "lol_min"),
                    F.coalesce("lol_min", "nbr_min"),
                ).alias("nbr_min"),
            )
        )
        # localCheckpoint (eager), not persist: caching alone keeps the
        # full logical plan, which GROWS each round — after enough rounds
        # on a deep graph even rendering the plan string OOMs the driver.
        # Checkpointing truncates lineage so plan depth stays constant.
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
                # previous label carried as a column so convergence is
                # detected IN this round (one agg over the checkpointed
                # table), not by paying a whole extra no-op round to see
                # an unchanged hash — on shallow graphs (the common dedup
                # case: planted pairs/triples) that confirm round was
                # ~1/3 of total CC wall clock.
                F.col("cluster_id").alias("prev_cid"),
            )
            .localCheckpoint()
        )
        n_changed = (
            new_labels.agg(
                F.sum(
                    (F.col("cluster_id") != F.col("prev_cid")).cast("long")
                ).alias("n")
            ).collect()[0].n
        )
        labels = new_labels.drop("prev_cid")
        if n_changed == 0:
            break
    else:  # pragma: no cover - needs diameter > 2**max_iter
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after {max_iter} rounds "
            "(component diameter exceeds 2**max_iter); labels may be "
            "under-merged",
            stacklevel=2,
        )
    # the convergence-check count materialized the final labels, so the
    # edge cache is no longer needed — release executor memory before
    # handing the (persisted) label table back
    sym.unpersist()
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the web-scale replacement for plain min-label propagation.

    Each round rewires the edge set toward star graphs rooted at component
    minima: LARGE-STAR links every neighbor larger than u to u's minimum
    neighborhood label; SMALL-STAR re-points u and its smaller neighbors
    at that minimum. Both are one windowed min + one projection over the
    edge list (no joins at all — cheaper per round than propagation's
    join+groupBy), and the alternation converges in O(log^2 n) rounds vs
    O(component diameter), which is what matters when a pathological
    near-dup chain (boilerplate ladders, mirror rings) makes a component
    deep. Fixpoint = the oriented edge multiset stops changing
    (count + order-insensitive hash). Returns (doc_id, cluster_id) with
    cluster_id the component minimum — same contract and same canonical
    survivor as :func:`connected_components`.
    """
    from pyspark.sql.window import Window

    e = (
        pairs.select(
            F.col(id_a).cast("long").alias("a"),
            F.col(id_b).cast("long").alias("b"),
        )
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev = None
    converged = False
    for _ in range(max_iter):
        sym = e.unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        w = Window.partitionBy("u")
        lmin = F.least(F.min("v").over(w), F.col("u"))
        large = (
            sym.withColumn("m", lmin)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        smin = F.least(F.min("v").over(w), F.col("u"))
        tmp = large.withColumn("m", smin)
        # No distinct on the u-side projection before the union: the
        # trailing distinct dedups the whole union with map-side partial
        # aggregation anyway, so an inner distinct is a pure extra
        # shuffle per round (measured ~-12% per round removing it).
        small = (
            tmp.select(F.col("v").alias("n"), "m")
            .unionAll(tmp.select(F.col("u").alias("n"), "m"))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # localCheckpoint truncates lineage so plan depth stays constant
        # across rounds (see connected_components for the failure mode)
        nxt = small.localCheckpoint()
        chk = nxt.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        e = nxt
        if prev == (chk.n, chk.h):
            converged = True
            break
        prev = (chk.n, chk.h)
    if not converged:
        # max_iter exhausted before the edge-multiset fixpoint: the edge
        # set need not be star-shaped, so a node can still appear as both
        # child and root with conflicting targets. Resolve to one label
        # per node by pointer-jumping the (min-target) label map — star
        # edges always point strictly downward (m < n), so jumps are
        # monotone decreasing and terminate.
        import warnings

        warnings.warn(
            f"connected_components_star: no fixpoint after {max_iter} "
            "rounds; resolving labels by pointer jumping",
            stacklevel=2,
        )
        lab = e.groupBy("u").agg(F.min("v").alias("v")).localCheckpoint()
        # Jump to FIXPOINT, not for max_iter rounds: star edges point
        # strictly downward (v < u after the min-agg), so each jump is
        # monotone decreasing and pointer doubling halves the remaining
        # chain depth — O(log n) rounds over a tiny label table. Reusing
        # max_iter here was a real bug (an expired budget left nodes with
        # conflicting labels); 64 rounds covers chains of depth 2**64,
        # i.e. it is an assertion bound, not a tuning knob.
        for _ in range(64):
            parent = lab.select(
                F.col("u").alias("_pu"), F.col("v").alias("_pv")
            )
            jumped = (
                lab.join(parent, lab["v"] == parent["_pu"], "left")
                .select("u", F.coalesce("_pv", "v").alias("v"))
                .localCheckpoint()
            )
            moved = (
                jumped.alias("n")
                .join(lab.alias("o"), "u")
                .filter(F.col("n.v") != F.col("o.v"))
                .limit(1)
                .count()
            )
            lab = jumped
            if moved == 0:
                break
        e = lab
    # Roots are targets that never appear as a child — NOT all distinct
    # targets. At the star fixpoint the two sets coincide (every edge
    # points child -> component minimum, and a minimum is never a child),
    # so the converged path emits distinct targets directly. Only on the
    # unconverged fallback can an interior node still be some edge's
    # target, where emitting it as its own root would hand it a second,
    # conflicting label — so the left-anti derivation (two extra joins)
    # is paid only when the pointer-jump loop actually ran.
    if converged:
        roots = (
            e.select(F.col("v").alias("doc_id"))
            .distinct()
            .withColumn("cluster_id", F.col("doc_id"))
        )
    else:
        roots = (
            e.select(F.col("v").alias("doc_id"))
            .distinct()
            .join(
                e.select(F.col("u").alias("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            )
            .withColumn("cluster_id", F.col("doc_id"))
        )
    out = (
        e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .unionAll(roots)
        .distinct()
    )
    return out


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard pairs via the PPJoin prefix filter (Xiao et al.,
    WWW'08) — LOSSLESS candidate reduction.

    Each document's shingles are ordered by global frequency (rarest
    first, shingle text as total-order tiebreak); only the first
    ``|d| - ceil(t*|d|) + 1`` shingles (the *prefix*) are indexed. Two
    sets with Jaccard >= t MUST share a prefix token (pigeonhole on the
    overlap bound), so joining prefixes instead of full shingle sets
    yields every qualifying pair while shrinking the self-join input —
    rare tokens join almost nothing, and the frequent tokens that fan
    out are exactly the ones prefixes exclude. Two further LOSSLESS
    prunes ride along: the size filter (Jaccard >= t forces
    min(|a|,|b|) >= t * max(|a|,|b|)) cuts candidates inside the
    prefix join itself, and verification intersects per-document
    shingle ARRAYS (array_intersect on two collected sets) instead of
    re-joining the exploded shingle table — candidates x avg-set-size
    fewer rows through the verify shuffle. The shingle table is
    consumed by one linear pipeline (frequency window -> per-doc
    rank/size windows -> collect), so nothing needs a persist.
    Returns the same rows as :func:`jaccard_pairs` at the same
    threshold; the plan does strictly less join work.
    """
    from pyspark.sql.window import Window

    sh = _shingle_table(df, id_col, text_col, k)
    ranked = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("sid")))
        .withColumn(
            "pos",
            F.row_number().over(Window.partitionBy("sid").orderBy("df", "shingle")),
        )
    )
    # one pass over ranked (already sid-partitioned) yields both the
    # prefix index and the full per-doc shingle sets for verification
    docs = ranked.groupBy("sid").agg(
        F.collect_list("shingle").alias("toks"), F.first("sz").alias("sz")
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("sid", "shingle", "sz", "pos")
    l, r = prefix.alias("l"), prefix.alias("r")
    # PPJoin positional filter (also lossless): a common token at ranks
    # (pos_l, pos_r) caps the achievable overlap at
    # 1 + min(sz_l - pos_l, sz_r - pos_r); Jaccard >= t needs overlap >=
    # ceil(t/(1+t) * (sz_l + sz_r)). The FIRST common token of a
    # qualifying pair both lies in the prefixes (prefix theorem) and
    # meets this cap (no common tokens precede it), so keeping pairs
    # where ANY shared prefix token passes loses nothing — while pruning
    # the candidates whose shared tokens sit too deep to ever reach the
    # overlap bound. Matters most when a closed vocabulary inflates
    # every token's document frequency (see SCALE_BENCH.md).
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("l.sz") + F.col("r.sz"))
    )
    cand = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.sid") < F.col("r.sid"))
            & (
                F.least(F.col("l.sz"), F.col("r.sz"))
                >= F.lit(threshold) * F.greatest(F.col("l.sz"), F.col("r.sz"))
            )
            & (
                1
                + F.least(
                    F.col("l.sz") - F.col("l.pos"),
                    F.col("r.sz") - F.col("r.pos"),
                )
                >= alpha
            ),
        )
        .select(F.col("l.sid").alias("id_a"), F.col("r.sid").alias("id_b"))
        .distinct()
    )
    da = docs.select(
        F.col("sid").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    db = docs.select(
        F.col("sid").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    n_inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
