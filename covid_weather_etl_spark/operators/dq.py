"""Data-quality constraint suite (Deequ-style declarative checks).

The reference validates records imperatively inside its transform stage
(`etl/transformer.py:35-57` — per-entry null/date checks routing whole
files to quarantine). This module generalizes that into the
warehouse-side contract a production pipeline runs after every load: a
declarative constraint catalog (completeness, uniqueness, value range,
set membership, referential integrity) evaluated in ONE aggregate pass
per table and emitted as a tall audit report — the shape Deequ
(Schelter et al., VLDB 2018) popularized on Spark.

Scale notes (100 TB): each table contributes exactly one full-scan
aggregate whose partial (map-side) states are a handful of counters —
no shuffle wider than one row per table. The referential check is a
key-projected anti-join: broadcast when the dimension's key column
fits (here), shuffle-hash otherwise; either way it never moves
non-key columns. Adding a constraint adds a counter, not a pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions.numeric import (
    decimal_sum, decimal_sum_sql, fround, fround_sql,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

EVENT_TYPES = ("error", "view", "purchase", "click", "signup")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD")
ORDER_STATUSES = ("O", "F", "P")


def _status(violations: F.Column) -> F.Column:
    return F.when(violations == 0, "pass").otherwise("fail")


@register(
    "dq_constraint_report",
    survey="ext-dq,P8,A1,A2,J7",
    bench=True,
    oracle=f"""
    WITH o AS (
        SELECT COUNT(CASE WHEN o_custkey IS NULL THEN 1 END)      AS null_custkey,
               COUNT(*) - COUNT(DISTINCT o_orderkey)              AS dup_orderkey,
               COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END)      AS nonpos_price,
               COUNT(CASE WHEN o_orderstatus NOT IN
                     {ORDER_STATUSES!r} THEN 1 END)               AS bad_status
        FROM orders
    ),
    e AS (
        SELECT COUNT(CASE WHEN ts IS NULL THEN 1 END)             AS null_ts,
               COUNT(*) - COUNT(DISTINCT event_id)                AS dup_event_id,
               COUNT(CASE WHEN event_type NOT IN
                     {EVENT_TYPES!r} THEN 1 END)                  AS bad_type
        FROM events
    ),
    c AS (
        SELECT COUNT(*) - COUNT(DISTINCT c_custkey)               AS dup_custkey,
               COUNT(CASE WHEN c_mktsegment NOT IN
                     {SEGMENTS!r} THEN 1 END)                     AS bad_segment
        FROM customer
    ),
    r AS (
        -- NOT EXISTS, not NOT IN: a NULL anywhere in customer.c_custkey
        -- would make NOT IN three-valued-NULL for EVERY row (0 orphans
        -- reported on exactly the dirty data a DQ suite targets); the
        -- IS NOT NULL guard mirrors the engine's null-filtered anti-join
        -- (a NULL FK is a completeness violation, not an orphan).
        SELECT COUNT(*) AS orphan_orders
        FROM orders
        WHERE o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer
                          WHERE c_custkey = o_custkey)
    ),
    tall AS (
        SELECT 'orders' AS tbl, 'completeness:o_custkey' AS check_name,
               null_custkey AS violations FROM o
        UNION ALL SELECT 'orders', 'uniqueness:o_orderkey', dup_orderkey FROM o
        UNION ALL SELECT 'orders', 'range:o_totalprice>0', nonpos_price FROM o
        UNION ALL SELECT 'orders', 'membership:o_orderstatus', bad_status FROM o
        UNION ALL SELECT 'events', 'completeness:ts', null_ts FROM e
        UNION ALL SELECT 'events', 'uniqueness:event_id', dup_event_id FROM e
        UNION ALL SELECT 'events', 'membership:event_type', bad_type FROM e
        UNION ALL SELECT 'customer', 'uniqueness:c_custkey', dup_custkey FROM c
        UNION ALL SELECT 'customer', 'membership:c_mktsegment', bad_segment FROM c
        UNION ALL SELECT 'orders', 'referential:o_custkey->customer',
                  orphan_orders FROM r
    )
    SELECT tbl, check_name, violations,
           CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
    FROM tall
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint catalog over three tables, evaluated as
    one counter-aggregate pass per table plus a key-projected broadcast
    anti-join for referential integrity, stacked into a tall
    (tbl, check_name, violations, status) audit report. COUNT(CASE WHEN
    violation) with identical null semantics on both engines:
    completeness counts nulls, membership counts non-members (null is
    neither), uniqueness is COUNT(*) − COUNT(DISTINCT key)."""
    t = load_tables(spark, sf_dir, ("orders", "events", "customer"))

    def viol(cond: F.Column) -> F.Column:
        return F.count(F.when(cond, 1))

    o = t["orders"].agg(
        viol(F.col("o_custkey").isNull()).alias("null_custkey"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_orderkey"),
        viol(F.col("o_totalprice") <= 0).alias("nonpos_price"),
        viol(~F.col("o_orderstatus").isin(*ORDER_STATUSES)).alias("bad_status"),
    )
    e = t["events"].agg(
        viol(F.col("ts").isNull()).alias("null_ts"),
        (F.count("*") - F.countDistinct("event_id")).alias("dup_event_id"),
        viol(~F.col("event_type").isin(*EVENT_TYPES)).alias("bad_type"),
    )
    c = t["customer"].agg(
        (F.count("*") - F.countDistinct("c_custkey")).alias("dup_custkey"),
        viol(~F.col("c_mktsegment").isin(*SEGMENTS)).alias("bad_segment"),
    )
    # NOT-IN semantics: a NULL foreign key is a completeness violation,
    # not an orphan — filter nulls BEFORE the anti-join (left_anti alone
    # would keep null-keyed rows, silently double-counting them here).
    r = (t["orders"].select("o_custkey")
         .filter(F.col("o_custkey").isNotNull())
         .join(F.broadcast(t["customer"].select("c_custkey")),
               F.col("o_custkey") == F.col("c_custkey"), "left_anti")
         .agg(F.count("*").alias("orphan_orders")))

    def stack(df: DataFrame, rows: list[tuple[str, str, str]]) -> DataFrame:
        parts = ", ".join(f"'{tbl}', '{chk}', {col}" for tbl, chk, col in rows)
        return df.select(F.expr(
            f"stack({len(rows)}, {parts}) as (tbl, check_name, violations)"))

    tall = (
        stack(o, [("orders", "completeness:o_custkey", "null_custkey"),
                  ("orders", "uniqueness:o_orderkey", "dup_orderkey"),
                  ("orders", "range:o_totalprice>0", "nonpos_price"),
                  ("orders", "membership:o_orderstatus", "bad_status")])
        .unionAll(stack(e, [("events", "completeness:ts", "null_ts"),
                            ("events", "uniqueness:event_id", "dup_event_id"),
                            ("events", "membership:event_type", "bad_type")]))
        .unionAll(stack(c, [("customer", "uniqueness:c_custkey", "dup_custkey"),
                            ("customer", "membership:c_mktsegment",
                             "bad_segment")]))
        .unionAll(stack(r, [("orders", "referential:o_custkey->customer",
                             "orphan_orders")]))
    )
    return tall.select("tbl", "check_name", "violations",
                       _status(F.col("violations")).alias("status"))


@register(
    "benford_digit_profile",
    survey="ext-dq,A6,F9,A3",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice > 0
    ), counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
        FROM digits GROUP BY digit
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
           ROUND(n * 1.0 / total, 6) AS observed,
           ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford,
           ROUND(n * 1.0 / total - LOG10(1.0 + 1.0 / digit), 6)
               AS deviation
    FROM counts CROSS JOIN tot
    """,
)
def benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of `o_totalprice` — the fraud /
    synthetic-data screen a DQ suite runs over any organically-grown
    money column: leading-digit shares vs the log10(1 + 1/d)
    expectation, with the signed deviation per digit. The first digit
    comes from the DECIMAL(18,2) string rendering on BOTH engines (no
    float formatting drift); one map-combinable count aggregate, a
    9-row report — cost is one scan at any scale. (TPC-H prices are
    uniform-ish, so deviations here are legitimately large — the
    operator reports, thresholds are policy.)"""
    t = load_tables(spark, sf_dir, ("orders",))
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        1, 1).cast("long")
    counts = (t["orders"].filter(F.col("o_totalprice") > 0)
              .select(digit.alias("digit"))
              .groupBy("digit").agg(F.count("*").alias("n"))
              .localCheckpoint(eager=False))
    tot = counts.agg(F.sum("n").alias("total"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    obs = F.col("n") * 1.0 / F.col("total")
    return (counts.crossJoin(F.broadcast(tot))
            .select("digit", "n",
                    F.round(obs, 6).alias("observed"),
                    F.round(benford, 6).alias("benford"),
                    F.round(obs - benford, 6).alias("deviation")))


#: candidate inclusion dependencies probed by the FK-discovery profile:
#: (child table, child col, parent table, parent col). The last pair is
#: deliberately NOT an FK — the profile must report fractional
#: containment, not assume it.
IND_CANDIDATES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),
)


def _ind_oracle() -> str:
    parts = []
    for ct, cc, pt, pc in IND_CANDIDATES:
        parts.append(f"""
    SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
           CAST(COUNT(*) AS BIGINT) AS n_child_distinct,
           CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contained,
           ROUND(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS containment
    FROM (SELECT DISTINCT {cc} AS v FROM {ct} WHERE {cc} IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT {pc} AS v FROM {pt}) p USING (v)""")
    return "\nUNION ALL\n".join(parts)


@register("inclusion_dependency_profile", survey="ext-dq,A2,J7",
          oracle=_ind_oracle())
def inclusion_dependency_profile(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key discovery) profile — the
    schema-profiling primitive behind tools like Metanome/HoloClean:
    for each candidate (child column ⊆ parent column) pair, the
    fraction of DISTINCT child values contained in the parent. True
    FKs report 1.0; the deliberately-included non-FK pair
    (o_orderkey vs c_custkey) reports its honest fractional overlap —
    this probe MEASURES referential structure, where
    `dq_constraint_report` asserts it.

    Per pair: distinct-project both sides (map-side combinable; the
    frame collapses to key cardinality), one left join on the value,
    integer containment counts — the same anti-join skeleton as the
    DQ orphan check, run across the whole candidate set in one union
    plan. Null child values are excluded (SQL NOT-IN null semantics
    would poison the count — the r3 ADVICE lesson baked in). At
    100 TB each distinct-project is the only fact-sized pass and all
    six run in one job."""
    t = load_tables(spark, sf_dir,
                    ("lineitem", "orders", "part", "supplier",
                     "customer", "nation"))
    outs = []
    for ct, cc, pt, pc in IND_CANDIDATES:
        child = (t[ct].filter(F.col(cc).isNotNull())
                 .select(F.col(cc).alias("v")).distinct())
        parent = t[pt].select(F.col(pc).alias("v")).distinct()
        joined = child.join(parent.withColumn("hit", F.lit(1)),
                            "v", "left")
        outs.append(joined.agg(
            F.lit(f"{ct}.{cc}").alias("child"),
            F.lit(f"{pt}.{pc}").alias("parent"),
            F.count("*").alias("n_child_distinct"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
             .alias("n_contained"),
            F.round(F.sum(F.when(F.col("hit").isNotNull(), 1)
                          .otherwise(0)) * 1.0 / F.count("*"), 6)
             .alias("containment")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# k-anonymity privacy audit
# ---------------------------------------------------------------------------

#: minimum acceptable quasi-identifier group size.
K_ANON = 5
#: account-balance banding width for the quasi-identifier tuple.
K_ANON_BAND = 1000.0


@register(
    "k_anonymity_report",
    survey="ext-privacy,A6,A8,F9",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / {K_ANON_BAND}) AS BIGINT) AS bal_band,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST({K_ANON} AS BIGINT)           AS k,
           CAST(SUM(cnt) AS BIGINT)           AS n_rows,
           CAST(COUNT(*) AS BIGINT)           AS n_groups,
           CAST(MIN(cnt) AS BIGINT)           AS min_group_size,
           CAST(SUM(CASE WHEN cnt < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(SUM(CASE WHEN cnt < {K_ANON} THEN cnt ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
           {fround_sql(f"SUM(CASE WHEN cnt < {K_ANON} THEN cnt ELSE 0 END)"
                       " * 1.0 / SUM(cnt)")} AS pct_at_risk
    FROM g
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer dimension's
    quasi-identifier tuple (nation, market segment, account-balance
    band): any combination shared by fewer than k individuals
    re-identifies them under linkage attacks — the privacy gate a
    training-data pipeline must pass before releasing per-user
    aggregates or retaining PII-adjacent columns (complements
    `pii_redaction`, which scrubs direct identifiers; k-anonymity
    catches the INDIRECT ones). Reports group count, the worst group
    size, how many groups violate k and how many rows they expose.

    Plan: one map-combinable aggregate to the QI-tuple frame, then a
    one-row summary over it — the cheapest possible full audit; at
    100 TB the QI frame is |distinct tuples|, never row count. The
    banding FLOOR is a single deterministic IEEE op on both engines,
    and every output but the final ratio is integer-exact."""
    t = load_tables(spark, sf_dir, ("customer",))
    g = (t["customer"]
         .groupBy("c_nationkey", "c_mktsegment",
                  F.floor(F.col("c_acctbal") / K_ANON_BAND)
                  .alias("bal_band"))
         .agg(F.count("*").alias("cnt")))
    cnt = F.col("cnt")
    viol = F.when(cnt < K_ANON, cnt).otherwise(F.lit(0))
    return g.agg(
        F.lit(K_ANON).cast("long").alias("k"),
        F.sum(cnt).alias("n_rows"),
        F.count("*").alias("n_groups"),
        F.min(cnt).alias("min_group_size"),
        F.sum(F.when(cnt < K_ANON, 1).otherwise(0)).cast("long")
         .alias("n_violating_groups"),
        F.sum(viol).alias("rows_at_risk"),
        fround(F.sum(viol) * 1.0 / F.sum(cnt))
        .alias("pct_at_risk"))


# ---------------------------------------------------------------------------
# differentially-private release mechanism (seeded Laplace counts)
# ---------------------------------------------------------------------------

#: privacy budget for the counting query (sensitivity 1 → scale 1/eps).
DP_EPSILON = 1.0
_HEXD = "0123456789abcdef"


def _md5_uniform_sql(key_expr: str) -> str:
    """DuckDB: first 8 md5-hex chars of `key_expr` → uniform in (0,1)."""
    h = f"md5({key_expr})"
    terms = " + ".join(
        f"(strpos('{_HEXD}', substr({h}, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}" for i in range(8))
    return f"(({terms}) + 0.5) / {16 ** 8}"


@register(
    "dp_noisy_counts",
    survey="ext-privacy,A6,F9",
    oracle=f"""
    WITH counts AS (
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS true_count
        FROM customer GROUP BY 1
    ), noised AS (
        SELECT segment, true_count,
               {_md5_uniform_sql("segment")} AS u
        FROM counts
    )
    SELECT segment,
           {DP_EPSILON} AS epsilon,
           {fround_sql(f"true_count - (1.0 / {DP_EPSILON})"
                       " * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END"
                       " * ln(1.0 - 2.0 * ABS(u - 0.5))")} AS noisy_count
    FROM noised
    """,
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism counting query (Dwork et al. 2006): per-
    segment customer counts released with Laplace(1/ε) noise — a
    COUNT has sensitivity 1, so adding Lap(1/ε) noise makes the
    release ε-differentially private. The noise is drawn by inverse
    CDF x = −(1/ε)·sign(u−½)·ln(1−2|u−½|) from a uniform u derived
    deterministically from the md5 of the group key, so engine and
    oracle release identical values and the test suite can pin the
    mechanism's algebra.

    ``NOT PRIVATE AS SEEDED``: a md5-of-key "seed" is reproducible by
    anyone, which is exactly what DP forbids — in production swap u
    for a secure RNG draw per release (one line); everything else
    (sensitivity accounting, inverse-CDF transform, per-group
    independence) carries over unchanged. The deterministic seam is
    the same honesty trade the repo makes for RNG-free sampling
    (corpus.hash_stratified_sample).

    Plan: one map-combinable count aggregate to |segments| rows; the
    noise transform is per-group scalar algebra. The true counts
    never leave the engine in the released frame (only the noised
    value and ε do)."""
    t = load_tables(spark, sf_dir, ("customer",))
    counts = (t["customer"]
              .groupBy(F.col("c_mktsegment").alias("segment"))
              .agg(F.count("*").alias("true_count")))
    h = F.md5(F.col("segment"))
    u_int = None
    for i in range(8):
        # cast before the scale-up: instr yields INT and 15·16^7
        # overflows 32 bits under ANSI arithmetic
        term = ((F.instr(F.lit(_HEXD), F.substring(h, i + 1, 1)) - 1)
                .cast("long") * (16 ** (7 - i)))
        u_int = term if u_int is None else u_int + term
    u = (u_int + 0.5) / (16 ** 8)
    sign = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    lap = -(1.0 / DP_EPSILON) * sign * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    return counts.select(
        "segment",
        F.lit(DP_EPSILON).alias("epsilon"),
        fround(F.col("true_count") + lap)
        .alias("noisy_count"))


# ---------------------------------------------------------------------------
# l-diversity privacy audit — k-anonymity's sensitive-attribute twin
# ---------------------------------------------------------------------------

#: minimum acceptable distinct sensitive values per QI group.
L_DIV = 3
#: sensitive attribute banding (account balance, same grid as k-anon).
L_DIV_BAND = 1000.0


@register(
    "l_diversity_report",
    survey="ext-privacy,A2,A6,F10",
    oracle=f"""
    WITH sv AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / {L_DIV_BAND}) AS BIGINT) AS sens,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM customer GROUP BY 1, 2, 3
    ), gn AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS l,
               CAST(SUM(k) AS BIGINT) AS n
        FROM sv GROUP BY 1, 2
    ), grp AS (
        SELECT g.c_nationkey, g.c_mktsegment, g.l, g.n,
               {decimal_sum_sql("ROUND(-(s.k * 1e0 / g.n)"
                                " * LN(s.k * 1e0 / g.n), 9)",
                                "decimal(25,9)")} AS ent
        FROM sv s
        JOIN gn g ON s.c_nationkey = g.c_nationkey
                 AND s.c_mktsegment = g.c_mktsegment
        GROUP BY 1, 2, 3, 4
    )
    SELECT l,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CASE WHEN l >= {L_DIV} THEN 1 ELSE 0 END AS meets_l,
           {fround_sql("MIN(EXP(CAST(ent AS DOUBLE)))")}
               AS min_entropy_l
    FROM grp GROUP BY l
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a QI group can be large (k-anonymous) yet
    expose everyone in it if all its members share ONE sensitive
    value (homogeneity attack). Over the same quasi-identifier tuple
    as `k_anonymity_report` (nation, market segment) with the
    account-balance band as the sensitive attribute, this reports the
    distribution of distinct-l values per group plus each l-stratum's
    worst ENTROPY l-diversity exp(−Σ p ln p) — the stricter criterion
    that also catches 99%-skewed groups that technically have l > 1.

    Exactness: counts are integers; each entropy term is one LN per
    (group, sensitive value) pair snapped to the 1e-9 grid and
    DECIMAL-summed (order-free), with EXP applied to the already-
    quantized total and snapped to 1e-6. Plan: one map-combinable
    aggregate to the (QI, sensitive) frame, a second to QI groups
    (the window in the oracle is a per-group total the engine gets
    from its grouped SUM — partitioned, tiny), a third to l strata —
    all bounded by distinct-tuple counts, never row count."""
    t = load_tables(spark, sf_dir, ("customer",))
    sv = (t["customer"]
          .groupBy("c_nationkey", "c_mktsegment",
                   F.floor(F.col("c_acctbal") / L_DIV_BAND).alias("sens"))
          .agg(F.count("*").alias("k")))
    gn = (sv.groupBy("c_nationkey", "c_mktsegment")
          .agg(F.count("*").alias("l"), F.sum("k").alias("n")))
    p = F.col("k") * F.lit(1.0) / F.col("n")
    ent = decimal_sum(F.round(-p * F.log(p), 9), "decimal(25,9)")
    grp = (sv.join(gn, ["c_nationkey", "c_mktsegment"])
           .groupBy("c_nationkey", "c_mktsegment", "l", "n")
           .agg(ent.alias("ent")))
    return (grp.groupBy("l")
            .agg(F.count("*").alias("n_groups"),
                 F.sum("n").cast("long").alias("n_rows"),
                 F.max(F.when(F.col("l") >= L_DIV, 1).otherwise(0))
                 .cast("int").alias("meets_l"),
                 fround(F.min(F.exp(F.col("ent").cast("double"))))
                 .alias("min_entropy_l"))
            .select("l", "n_groups", "n_rows", "meets_l",
                    "min_entropy_l"))


# ---------------------------------------------------------------------------
# approximate functional-dependency profiling (TANE g3 error)
# ---------------------------------------------------------------------------

#: candidate dependencies audited: (table, lhs, rhs).
FD_CANDIDATES = (
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderdate", "o_orderstatus"),
    ("lineitem", "l_orderkey", "l_shipdate"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
)


def _fd_oracle_sql() -> str:
    parts = []
    for tbl, lhs, rhs in FD_CANDIDATES:
        parts.append(f"""
    SELECT '{tbl}.{lhs} -> {tbl}.{rhs}' AS candidate,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(SUM(cnt) - SUM(max_cnt) AS BIGINT) AS g3_rows,
           {fround_sql("(SUM(cnt) - SUM(max_cnt)) * 1e0 / SUM(cnt)")}
               AS g3_error
    FROM (
        SELECT {lhs}, CAST(COUNT(*) AS BIGINT) AS n_rhs,
               CAST(SUM(c) AS BIGINT) AS cnt,
               CAST(MAX(c) AS BIGINT) AS max_cnt
        FROM (SELECT {lhs}, {rhs}, COUNT(*) AS c
              FROM {tbl} GROUP BY 1, 2) vr
        GROUP BY {lhs}
    ) g""")
    return " UNION ALL ".join(parts)


@register(
    "functional_dependency_profile",
    survey="ext-dq,A2,A6,A13",
    oracle=_fd_oracle_sql(),
)
def functional_dependency_profile(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Approximate FUNCTIONAL-DEPENDENCY discovery over candidate
    column pairs — the schema-profiling primitive (TANE, Huhtala et
    al. 1999) that tells a warehouse which "obvious" invariants the
    data actually honors before anyone normalizes, partitions, or
    dedups on them. For each candidate lhs → rhs: how many lhs groups
    see >1 distinct rhs, and the g3 error (Kivinen & Mannila 1995) —
    the minimum fraction of rows to REMOVE for the FD to hold exactly
    (1 − Σ_g max-rhs-count / n). g3 ≈ 0 flags a real-but-dirty
    dependency worth a DQ rule (`dq_constraint_report`'s input); g3
    large means the candidate is false, and a dedup/merge keyed on it
    would corrupt data. Complements `inclusion_dependency_profile`
    (cross-table containment; this is intra-table determination).

    Exactness: pure integer counting; the only float is the final g3
    ratio, snapped to 1e-6. Plan: per candidate, one (lhs, rhs)
    grouped count (map-combinable), one lhs-keyed rollup, one scalar
    summary — each bounded by distinct-pair counts; candidates over
    the same table share the scan via union at 100 TB (Catalyst
    reuses the exchange when grouping keys match)."""
    names = sorted({tbl for tbl, _, _ in FD_CANDIDATES})
    t = load_tables(spark, sf_dir, tuple(names))
    outs = []
    for tbl, lhs, rhs in FD_CANDIDATES:
        vr = (t[tbl].groupBy(lhs, rhs).agg(F.count("*").alias("c")))
        g = (vr.groupBy(lhs)
             .agg(F.count("*").alias("n_rhs"),
                  F.sum("c").alias("cnt"),
                  F.max("c").alias("max_cnt")))
        outs.append(g.agg(
            F.lit(f"{tbl}.{lhs} -> {tbl}.{rhs}").alias("candidate"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count("*").alias("n_lhs_groups"),
            F.sum((F.col("n_rhs") > 1).cast("long"))
            .alias("n_violating_groups"),
            (F.sum("cnt") - F.sum("max_cnt")).cast("long")
            .alias("g3_rows"),
            fround((F.sum("cnt") - F.sum("max_cnt")) * F.lit(1.0)
                     / F.sum("cnt")).alias("g3_error")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
