"""Skew-mitigation join utilities.

Skewed join keys are the classic 100 TB failure mode: one hot key pins one
reducer while the fleet idles. Two remedies ship here:

* **AQE skew-join splitting** — on by default in this engine's sessions
  (``spark.sql.adaptive.skewJoin.enabled``); handles skew transparently for
  sort-merge joins. Prefer it.
* **Explicit salting** (this module) — for the cases AQE can't see
  (broadcast-ineligible small side joined on a hot key, or deterministic
  plans wanted): the fact side gets a uniform random-ish salt derived from
  a unique column (deterministic, not ``rand()``, so retries/oracles
  reproduce); the dimension side is replicated ``n_salts`` times; the join
  key becomes (key, salt), spreading each hot key over ``n_salts``
  reducers. Results are identical to the unsalted join — only the shuffle
  layout changes.

Bounded groups need no join at all: :func:`in_group_pairs` forms a
group's pairs from its folded postings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "with_salt",
    "replicate_for_salt",
    "salted_join",
    "salted_self_pair_join",
    "plain_self_pair_join",
    "block_population_stats",
    "auto_self_pair_join",
    "co_occurrence_pairs",
    "in_group_pairs",
]


def in_group_pairs(
    df: DataFrame, xs: str, cond: str = "b > a"
) -> DataFrame:
    """One row per in-group pair ``(a, b)`` of the array column ``xs``
    whose elements satisfy the SQL predicate ``cond`` over the lambda
    variables ``a`` and ``b``: the pair explode of a posting fold, and
    the only place in the package that writes it.

    Callers fold each group's postings into ``xs`` first (one exchange
    on the group key); the pairs then form inside codegen, with no
    self-join exchange or join build, and at most d*(d-1)/2 rows for a
    group of d postings. The default ``b > a`` emits each unordered
    pair of distinct scalars once without sorting ``xs``; struct
    elements take a condition over their fields. It filters ``xs``
    rather than slicing a sorted copy, which allocates a sub-array per
    element. A group builds its d^2 pairs in one task, so hot groups
    belong on :func:`salted_self_pair_join`; and AQE coalesces a small
    folded frame to one or two partitions, so a caller with a large
    pair amplification repartitions ``df`` first. Returns columns ``a``
    and ``b`` with the element type of ``xs``."""
    pairs = df.select(
        F.expr(
            f"explode(flatten(transform({xs}, a -> "
            f"transform(filter({xs}, b -> {cond}), "
            "b -> named_struct('a', a, 'b', b)))))"
        ).alias("pr")
    )
    return pairs.select("pr.a", "pr.b")


def co_occurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    out_a: str = "u",
    out_b: str = "v",
) -> DataFrame:
    """Distinct unordered item pairs co-occurring under a group key:
    exactly the rows of ``df.a JOIN df.b ON group AND a.item < b.item``
    + distinct, as one fold per group (map-side partial collect_set
    also absorbs duplicate rows) and :func:`in_group_pairs`. Use when
    per-group populations are bounded (TPC-H orders: <= 7 lineitems);
    for unbounded or hot groups keep a join so AQE can split skew
    (:func:`auto_self_pair_join`)."""
    grouped = df.groupBy(group_col).agg(
        F.collect_set(item_col).alias("xs")
    )
    return in_group_pairs(grouped, "xs").select(
        F.col("a").alias(out_a), F.col("b").alias(out_b)
    ).distinct()


def with_salt(df: DataFrame, unique_col: str, n_salts: int) -> DataFrame:
    """Deterministic salt in [0, n_salts): a stable hash of a unique
    column, NOT rand() — reruns and oracle comparisons reproduce."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(unique_col)), F.lit(n_salts))
    )


def replicate_for_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Explode the (small) side across every salt value."""
    return df.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))),
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    fact_unique_col: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``fact`` to ``dim`` on ``on`` with an ``n_salts``-way salted
    key, defeating hot-key reducer skew. Semantically identical to
    ``fact.join(dim, on, how)`` for 1:1/N:1 dimension joins."""
    f = with_salt(fact, fact_unique_col, n_salts)
    d = replicate_for_salt(dim, n_salts)
    return f.join(d, [on, "_salt"], how).drop("_salt")


def salted_self_pair_join(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    n_salts: int = 8,
) -> DataFrame:
    """Self-join candidate generation with hot-key salting.

    Produces exactly the pairs of ``df.alias('a').join(df.alias('b'),
    keys).filter(a.id < b.id)`` — every unordered pair sharing the key
    appears once — but spreads each hot key's probe side over ``n_salts``
    reducers: side A gets a deterministic salt from its unique ``id_col``,
    side B is replicated across all salts, and the join key becomes
    (keys..., _salt). Pair (x, y) surfaces once, at x's salt (the reverse
    orientation lands at y's salt and is dropped by the ``<`` filter).

    The quadratic candidate volume of a hot key is inherent to blocked
    candidate generation; what salting fixes is its PLACEMENT — |hot|/n x
    |hot| work per reducer instead of |hot|^2 on one. Output columns:
    every non-key column of ``df`` suffixed ``_a`` / ``_b`` plus the keys.
    """
    payload = [c for c in df.columns if c not in keys]
    a = with_salt(df, id_col, n_salts).select(
        *keys, "_salt", *[F.col(c).alias(f"{c}_a") for c in payload]
    )
    b = replicate_for_salt(df, n_salts).select(
        *keys, "_salt", *[F.col(c).alias(f"{c}_b") for c in payload]
    )
    return (
        a.join(b, [*keys, "_salt"])
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .drop("_salt")
    )


def plain_self_pair_join(
    df: DataFrame, keys: list[str], id_col: str
) -> DataFrame:
    """Unsalted twin of :func:`salted_self_pair_join` with IDENTICAL
    output columns (non-key columns suffixed ``_a``/``_b`` plus the
    keys), so a planner can swap the two without touching downstream
    expressions."""
    payload = [c for c in df.columns if c not in keys]
    a = df.select(*keys, *[F.col(c).alias(f"{c}_a") for c in payload])
    b = df.select(*keys, *[F.col(c).alias(f"{c}_b") for c in payload])
    return a.join(b, list(keys)).filter(
        F.col(f"{id_col}_a") < F.col(f"{id_col}_b")
    )


def block_population_stats(df: DataFrame, keys: list[str]) -> tuple:
    """(max, mean, n_blocks) of the per-key block populations — one
    scalar aggregate over the blocking table (the same statistic
    ``dedup_simhash_block_population`` reports as a query). Cost: one
    groupBy-count over the key table, negligible next to the candidate
    join it gates."""
    row = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.max("c").alias("mx"),
            F.avg("c").alias("mn"),
            F.count(F.lit(1)).alias("n_blocks"),
        )
        .first()
    )
    return row.mx, row.mn, row.n_blocks


def auto_self_pair_join(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    n_salts: int = 8,
    skew_bound: float = 6.0,
) -> tuple[DataFrame, dict]:
    """Skew-aware planner for blocked self-pair candidate generation
    (VERDICT r11 ask #5): measure the block-population skew (max/mean
    count per key) and pick :func:`salted_self_pair_join` when it
    exceeds ``skew_bound``, else :func:`plain_self_pair_join`.

    The default bound 6.0 is the regression ceiling
    ``tests/test_llm_dedup_scale.py`` pins for the SimHash block index
    (measured max ~3x mean at sf0.1); beyond it a single reducer owns a
    quadratic hot block and salting's |hot|/n_salts placement wins.
    Both paths emit identical rows and columns — only the shuffle
    layout differs — so the decision is a pure physical-plan choice,
    and callers can surface it (ratio + chosen path) for oracle
    checking. The one driver-side action is the scalar stats aggregate
    (3 numbers), the same threshold-gating pattern as the dedup
    union-find."""
    mx, mn, n_blocks = block_population_stats(df, keys)
    ratio = float(mx) / float(mn) if mn else 0.0
    decision = {
        "max_pop": mx,
        "mean_pop": mn,
        "n_blocks": n_blocks,
        "ratio": ratio,
        "chosen": "salted" if ratio > skew_bound else "unsalted",
        "skew_bound": skew_bound,
    }
    if ratio > skew_bound:
        pairs = salted_self_pair_join(df, keys, id_col, n_salts)
    else:
        pairs = plain_self_pair_join(df, keys, id_col)
    return pairs, decision
