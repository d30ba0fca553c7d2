"""Deterministic sampling operators for corpus curation.

Training-data pipelines need samples that are (a) reproducible across
runs and engines — no RNG state on executors, no seed-order dependence —
and (b) executable as a pure filter, so they push down next to the scan
and compose with any other predicate. Both come from hash thresholding:
keep a row iff a fixed-width prefix of ``md5(stratum ':' id)`` falls
below the stratum's rate threshold. The hash is uniform on [0, 16^8), so
the kept fraction converges to the rate per stratum; membership of any
given row is a pure function of (id, stratum, rate).

This is the idiomatic 100 TB shape: one narrow filtered scan, zero
shuffles, and adding/removing strata or re-running with more executors
cannot change which rows are sampled (unlike ``df.sample``, whose output
depends on partition layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_example_spark.artifacts import materialize_if_derived
from etl_example_spark.functions.localrel import local_df

#: hex prefix width compared against the threshold; 8 hex digits = 32
#: uniform bits, plenty of rate resolution (~2.3e-10)
_PREFIX = 8


def rate_to_hex_threshold(rate: float) -> str:
    """8-hex-digit string h such that P[prefix < h] == rate (rate < 1)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1]: {rate}")
    return format(min(int(rate * 16**_PREFIX), 16**_PREFIX - 1), f"0{_PREFIX}x")


def hash_sample_predicate(
    id_col: Column | str, stratum_col: Column | str, rate: float
) -> Column:
    """Boolean keep/drop decision, computable per-row with no state.

    Boundary rates short-circuit to literals: 1.0 must keep every row
    (int(1.0 * 16^8) formats to NINE hex digits, which string-compares
    lexicographically, not numerically — '100000000' would keep only
    prefixes starting with '0')."""
    if rate >= 1.0:
        return F.lit(True)
    if rate <= 0.0:
        return F.lit(False)
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    sc = F.col(stratum_col) if isinstance(stratum_col, str) else stratum_col
    prefix = F.substring(
        F.md5(F.concat(sc, F.lit(":"), idc.cast("string"))), 1, _PREFIX
    )
    return prefix < F.lit(rate_to_hex_threshold(rate))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sample: each stratum keeps ~its rate.

    The rebalancing primitive of corpus curation (downsample boilerplate
    sources, keep the long tail). Strata absent from ``rates`` use
    ``default_rate`` (0.0 = drop, the safe default for unknown sources).
    """
    pred = F.lit(False)
    for stratum, rate in sorted(rates.items()):
        pred = F.when(
            F.col(stratum_col) == stratum,
            hash_sample_predicate(id_col, stratum_col, rate),
        ).otherwise(pred)
    if default_rate > 0.0:
        known = F.col(stratum_col).isin(list(rates))
        pred = F.when(
            ~known, hash_sample_predicate(id_col, stratum_col, default_rate)
        ).otherwise(pred)
    return df.filter(pred)


def temperature_rates(
    counts: dict[str, int], alpha: float, keep_fraction: float
) -> dict[str, float]:
    """Per-stratum keep rates for temperature-based mixture rebalancing.

    Target mixture weights are ``count^alpha`` renormalized (alpha < 1
    upweights small strata — the multilingual-sampling rule); the overall
    kept volume is ``keep_fraction`` of the corpus. Rates cap at 1.0 —
    sampling never replicates rows, so a small stratum saturates instead
    of oversampling (the capped mass is not redistributed; the realized
    total can undershoot keep_fraction when caps bind).

    Weight fold is in sorted-stratum order so the float sum is
    deterministic for a given counts dict.
    """
    if not counts:
        return {}
    total = sum(counts.values())
    weights = {s: float(c) ** alpha for s, c in sorted(counts.items())}
    z = 0.0
    for s in sorted(weights):
        z += weights[s]
    return {
        s: min(1.0, keep_fraction * total * weights[s] / z / counts[s])
        for s in sorted(counts)
    }


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.5,
    keep_fraction: float = 0.3,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-sampled mixture: derive per-stratum rates from the
    observed stratum counts (one tiny aggregate — stratum cardinality is
    languages/sources, not rows), then apply the deterministic
    hash-threshold filter. Two narrow passes, zero shuffles of the data
    itself; the second pass is a pure pushdown-able predicate.

    Rows with a NULL stratum are dropped (a NULL never equals a stratum
    value in the filter) — normalize unknowns to a sentinel stratum
    upstream if they must be sampled."""
    df = materialize_if_derived(df)
    counts = {
        r[0]: r[1]
        for r in df.groupBy(stratum_col).count().collect()
    }
    rates = temperature_rates(counts, alpha, keep_fraction)
    return stratified_sample(
        df, rates=rates, stratum_col=stratum_col, id_col=id_col
    )


def mixture_rates(
    counts: dict[str, int], target_weights: dict[str, float]
) -> dict[str, float]:
    """Per-stratum keep rates realizing EXPLICIT target mixture
    proportions (the domain-mixing spec of a training run: "40% web,
    20% code, ..."), at the largest corpus size feasible without
    oversampling any stratum.

    ``p_s`` = normalized target weight; the binding stratum is the one
    that runs out first (``N_max = min_s count_s / p_s``); every stratum
    keeps ``p_s * N_max / count_s`` (the binding one keeps ~all rows).
    Strata with no target weight rate 0 (dropped). Arithmetic folds in
    sorted-stratum order so the realized doubles — and therefore the
    sampled membership — are deterministic for given inputs.
    """
    present = {
        s: float(w)
        for s, w in sorted(target_weights.items())
        if s in counts and w > 0
    }
    if not present:
        return {s: 0.0 for s in counts}
    z = 0.0
    for s in sorted(present):
        z += present[s]
    props = {s: present[s] / z for s in sorted(present)}
    n_max = min(counts[s] / props[s] for s in sorted(props))
    return {
        s: (
            min(1.0, props[s] * n_max / counts[s]) if s in props else 0.0
        )
        for s in sorted(counts)
    }


def mixture_sample(
    df: DataFrame,
    target_weights: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic mixture-balanced sample: derive rates from observed
    stratum counts (one tiny aggregate) + the target weights, then apply
    the hash-threshold filter — same two-narrow-pass, zero-shuffle shape
    as ``temperature_sample``, but with an explicit mixture spec instead
    of the count^alpha rule."""
    df = materialize_if_derived(df)
    counts = {
        r[0]: r[1]
        for r in df.groupBy(stratum_col).count().collect()
        if r[0] is not None
    }
    rates = mixture_rates(counts, target_weights)
    return stratified_sample(
        df, rates=rates, stratum_col=stratum_col, id_col=id_col
    )


def host_frequency_cap(
    df: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    cap: int = 10,
) -> DataFrame:
    """Cap the number of documents kept per host at EXACTLY ``cap``,
    choosing the survivors by md5 rank (a deterministic "random" subset —
    keeping the first-crawled or lowest-id rows would bias the corpus
    toward old/landing pages).

    Web corpora are head-heavy: a handful of hosts contribute millions of
    near-boilerplate pages, and uncapped they dominate the training
    mixture. This exact variant ranks within each host with one window
    (one hash shuffle on host). A mega-host concentrates its rows in one
    sort partition, so for corpus-scale hosts use
    ``host_frequency_cap_approx`` — same decision rule, no per-host sort.

    Returns the kept rows plus ``host_total`` (pre-cap host size).
    """
    from pyspark.sql import Window

    rank_key = F.md5(
        F.concat(
            F.col(host_col), F.lit(":"), F.col(id_col).cast("string")
        )
    )
    w = Window.partitionBy(host_col).orderBy(rank_key, id_col)
    wc = Window.partitionBy(host_col)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .withColumn("host_total", F.count("*").over(wc))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def host_frequency_cap_approx(
    df: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    cap: int = 10,
) -> DataFrame:
    """The 100 TB shape of ``host_frequency_cap``: per-host keep RATE =
    cap / host_total applied as the usual hash-threshold predicate —
    two narrow passes (tiny per-host count aggregate, then a pure
    filter), no window, no per-host sort, so a billion-page host costs
    the same per row as a ten-page one.

    Kept count per host is Binomial(total, cap/total) — concentrated at
    ``cap`` but not exact. Hosts at or under the cap keep everything
    (rate 1.0 short-circuits to a literal TRUE predicate).
    """
    totals = df.groupBy(host_col).agg(F.count("*").alias("host_total"))
    witht = df.join(totals, host_col)  # AQE broadcasts the tiny side
    prefix = F.substring(
        F.md5(
            F.concat(
                F.col(host_col), F.lit(":"), F.col(id_col).cast("string")
            )
        ),
        1,
        _PREFIX,
    )
    # per-row threshold = cap/host_total, computed as an exact integer
    # hex threshold per host (same rule as rate_to_hex_threshold but
    # vectorized: compare the 32-bit prefix value against
    # cap * 16^8 / total in integer space — no float in the predicate).
    # The cross-multiply runs in decimal(38,0): prefix_val is up to
    # ~4.3e9, so a bigint product would overflow (and silently wrap,
    # ANSI off) for hosts beyond ~2.1e9 rows — the mega-host regime
    # this variant exists for.
    prefix_val = F.conv(prefix, 16, 10).cast("decimal(38,0)")
    keep = (F.col("host_total") <= cap) | (
        prefix_val * F.col("host_total") < F.lit(cap * 16**_PREFIX)
    )
    return witht.filter(keep)


def shard_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    hex_digits: int = 1,
) -> DataFrame:
    """Deterministic training-shard assignment: shard = the first
    ``hex_digits`` hex chars of ``md5('shard:' id)`` — 16^hex_digits
    shards, uniform in expectation, reproducible across engines/runs/
    cluster layouts (the property that makes a training run resumable
    and its data order auditable).

    A pure narrow projection; the shard column then drives
    ``sources.writers.write_training_shards`` (hash-partitioned write,
    one file per shard) and the shard-manifest aggregation.
    """
    return df.withColumn(
        "shard",
        F.substring(
            F.md5(
                F.concat(F.lit("shard:"), F.col(id_col).cast("string"))
            ),
            1,
            hex_digits,
        ),
    )


def _fdiv(a: Column, b: Column) -> Column:
    """Exact floor division for non-negative decimal(38,0) columns:
    (a - a%b)/b — the subtraction makes the final division exact
    (zero remainder), so the decimal quotient carries no rounded
    fraction and the cast back to decimal(38,0) is lossless. Spark's
    plain decimal division rounds HALF_UP at scale 6, which can land
    one above the true floor when the quotient sits within 5e-7 of an
    integer; this identity cannot."""
    return ((a - F.pmod(a, b)) / b).cast("decimal(38,0)")


def token_budget_plan(
    df: DataFrame,
    target_weights: dict[str, int],
    budget_ppm: int = 500000,
    stratum_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TOKEN-budget mixture plan — d59's row-count mixture re-stated in
    the unit training runs actually budget: tokens. Given integer
    domain weights and a corpus-relative token budget (ppm of the
    weighted corpus's total tokens), emit one plan row per stratum:

    - ``tokens``            observed whitespace-token count
    - ``target_tokens``     floor(w_s · B / W) — the stratum's share of
                            the budget B = floor(T_total · budget_ppm /
                            10^6)
    - ``rate_ppm``          min(10^6, floor(target·10^6 / tokens)) —
                            the keep rate a hash-threshold sampler
                            (``stratified_sample``) would apply
    - ``planned_tokens``    floor(tokens · rate_ppm / 10^6) — what the
                            clamped rate actually yields
    - ``needs_upsampling``  target > observed: the stratum cannot fill
                            its share in one epoch (the DoReMi/Pile
                            "epochs > 1" case), surfaced instead of
                            silently under-delivering

    Every number is exact integer arithmetic in decimal(38,0) (128-bit
    HUGEINT in the DuckDB oracle) with explicit floor division — no
    float anywhere, so the plan is bit-identical across engines at any
    scale (the d83/q78 discipline). Unweighted strata plan to zero
    (the d59/mixture_rates drop convention).

    Plan shape: one partial-aggregable token-count aggregate over the
    corpus, a broadcast of the one-row totals, pure column arithmetic —
    one scan regardless of corpus size; the output is |strata| rows.
    """
    from etl_example_spark.operators.text import token_count

    d38 = "decimal(38,0)"
    spark = df.sparkSession
    w_df = local_df(
        spark,
        sorted(target_weights.items()),
        f"{stratum_col} string, wt long",
    )
    per = (
        df.groupBy(stratum_col)
        .agg(
            F.coalesce(
                F.sum(token_count(text_col).cast("long")), F.lit(0)
            )
            .cast(d38)
            .alias("_toks")
        )
        .join(F.broadcast(w_df), stratum_col, "left")
        .withColumn(
            "_wt", F.coalesce(F.col("wt"), F.lit(0)).cast(d38)
        )
    )
    totals = per.agg(
        F.sum(F.when(F.col("_wt") > 0, F.col("_toks")).otherwise(0))
        .cast(d38)
        .alias("_t_total"),
        F.sum(F.when(F.col("_wt") > 0, F.col("_wt")).otherwise(0))
        .cast(d38)
        .alias("_w_total"),
    )
    lit38 = lambda v: F.lit(v).cast(d38)  # noqa: E731
    budget = _fdiv(
        F.col("_t_total") * lit38(budget_ppm), lit38(1_000_000)
    )
    target = F.when(
        (F.col("_wt") > 0) & (F.col("_w_total") > 0),
        _fdiv(F.col("_wt") * budget, F.col("_w_total")),
    ).otherwise(lit38(0))
    planned = per.crossJoin(F.broadcast(totals)).withColumn(
        "_target", target
    )
    rate = F.when(
        F.col("_toks") > 0,
        F.least(
            lit38(1_000_000),
            _fdiv(F.col("_target") * lit38(1_000_000), F.col("_toks")),
        ),
    ).otherwise(lit38(0))
    return (
        planned.withColumn("_rate", rate)
        .select(
            stratum_col,
            F.col("_toks").cast("long").alias("tokens"),
            F.col("_target").cast("long").alias("target_tokens"),
            F.col("_rate").cast("long").alias("rate_ppm"),
            _fdiv(F.col("_toks") * F.col("_rate"), lit38(1_000_000))
            .cast("long")
            .alias("planned_tokens"),
            (F.col("_target") > F.col("_toks")).alias(
                "needs_upsampling"
            ),
        )
    )
