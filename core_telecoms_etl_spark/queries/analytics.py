"""Event-analytics queries (funnel, cohort retention) and deterministic
dataset splitting — the complaint-analytics capability the reference's
star schema exists for (README.md:5-7) plus the training-data split a
100 TB pipeline needs. All full-oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators.sampling import (
    dataset_split,
    stratified_sample,
)
from core_telecoms_etl_spark.queries import (  # noqa: E501
    query,
    metric_events,
    with_finite_events,
)
from core_telecoms_etl_spark.sources.readers import load_table


@query(
    "funnel",
    oracle="""WITH s AS (
                SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
              c AS (
                SELECT e.user_id, min(e.ts) AS t2
                FROM events e JOIN s ON e.user_id = s.user_id
                WHERE e.event_type = 'click' AND e.ts > s.t1
                GROUP BY e.user_id),
              p AS (
                SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase' AND e.ts > c.t2
                GROUP BY e.user_id)
              SELECT (SELECT count(*) FROM s) AS n_signup,
                     (SELECT count(*) FROM c) AS n_signup_click,
                     (SELECT count(*) FROM p) AS n_signup_click_purchase""",
)
def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel (signup -> click -> purchase) in ONE
    shuffle: per-user sorted event fold through the stage chain
    (operators/funnel.py) instead of one join per stage."""
    from core_telecoms_etl_spark.operators.funnel import funnel_counts

    ev = load_table(spark, sf_dir, "events")
    return funnel_counts(ev, ["signup", "click", "purchase"]).select(
        F.col("n_signup"),
        F.col("n_signup_click"),
        F.col("n_signup_click_purchase"),
    )


@query(
    "cohort_retention",
    oracle="""WITH first AS (
                SELECT user_id,
                       CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
                FROM events GROUP BY user_id),
              act AS (
                SELECT DISTINCT e.user_id,
                       CAST(date_trunc('week', e.ts) AS DATE) AS wk
                FROM events e)
              SELECT f.cohort,
                     CAST(date_diff('day', f.cohort, a.wk) // 7 AS BIGINT)
                       AS week_offset,
                     CAST(count(DISTINCT a.user_id) AS BIGINT)
                       AS n_active_users
              FROM first f JOIN act a ON f.user_id = a.user_id
              GROUP BY f.cohort, week_offset""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    in each subsequent active week. Week offsets are exact because both
    engines Monday-truncate then integer-divide the day gap."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    return (
        first.join(act, "user_id")
        .select(
            "cohort",
            (F.datediff("wk", "cohort") / 7)
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


@query(
    "dataset_split",
    oracle="""SELECT CASE
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 1000000 < 800000 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 1000000 < 900000 THEN 'val'
                ELSE 'test' END AS split,
                count(*) AS n_docs
              FROM documents GROUP BY 1""",
)
def dataset_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (md5-bucket, salt-able):
    the same doc lands in the same split on every run, engine, and
    cluster size — unlike seeded RNG sampling. Oracle runs the identical
    hash arithmetic in SQL."""
    d = dataset_split(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    return d.groupBy("split").agg(F.count("*").alias("n_docs"))


@query(
    "stratified_sample",
    oracle="""SELECT lang, count(*) AS n_sampled
              FROM documents
              WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % 1000000
                    < CASE lang WHEN 'en' THEN 500000
                                WHEN 'es' THEN 250000
                                WHEN 'de' THEN 100000
                                ELSE 50000 END
              GROUP BY lang""",
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (class rebalancing): downsample
    the over-represented language harder (en 50%, es 25%, de 10%, rest
    5%) with the same stable md5-bucket membership as dataset_split — an
    ordinary pushdown-friendly filter, no RNG. Oracle runs the identical
    hash arithmetic."""
    d = stratified_sample(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        {"en": 0.5, "es": 0.25, "de": 0.1},
        default_fraction=0.05,
    )
    return d.groupBy("lang").agg(F.count("*").alias("n_sampled"))


@query(
    "exact_k_sample",
    oracle="""SELECT doc_id, lang, source
              FROM documents
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              LIMIT 100""",
)
def exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform sample without RNG state (the reservoir-sampling
    use case): top-100 by md5(id) — TakeOrderedAndProject physically, so
    a size-k heap per partition and a k-row driver merge, never a global
    sort. The same 100 docs come back on every run, engine, and
    partitioning; the oracle runs the identical hash order."""
    from core_telecoms_etl_spark.operators.sampling import sample_exact_k

    d = load_table(spark, sf_dir, "documents")
    return sample_exact_k(d, "doc_id", 100).select(
        "doc_id", "lang", "source"
    )


@query(
    "domain_mixture",
    oracle="""WITH counts AS (
                SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
              per AS (
                SELECT lang, cnt,
                       CASE lang WHEN 'en' THEN 0.4 WHEN 'es' THEN 0.2
                                 WHEN 'de' THEN 0.2 WHEN 'fr' THEN 0.1
                                 WHEN 'zh' THEN 0.1 ELSE 0.0 END AS w
                FROM counts
                WHERE CASE lang WHEN 'en' THEN 0.4 WHEN 'es' THEN 0.2
                                WHEN 'de' THEN 0.2 WHEN 'fr' THEN 0.1
                                WHEN 'zh' THEN 0.1 ELSE 0.0 END > 0),
              sc AS (SELECT min(cnt / w) AS scale FROM per),
              thr AS (
                SELECT lang,
                       CAST(floor(1000000.0 * least(1.0, w * scale / cnt))
                            AS BIGINT) AS t
                FROM per, sc)
              SELECT d.lang, count(*) AS n_kept
              FROM documents d JOIN thr ON d.lang = thr.lang
              WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % 1000000 < thr.t
              GROUP BY d.lang""",
)
def domain_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to a target language mixture (en 40%, es/de
    20%, fr/zh 10%) without upsampling: the output size is the largest at
    which every domain can meet its share from available rows, each
    domain gets a derived keep-fraction, membership is the stable md5
    bucket. The per-domain thresholds are computed IN the plan (tiny agg
    broadcast back onto the fact scan) — no driver round-trip. Oracle
    mirrors the arithmetic step-for-step so thresholds match exactly."""
    from core_telecoms_etl_spark.operators.sampling import domain_mixture

    d = load_table(spark, sf_dir, "documents")
    kept = domain_mixture(
        d,
        "doc_id",
        "lang",
        {"en": 0.4, "es": 0.2, "de": 0.2, "fr": 0.1, "zh": 0.1},
    )
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))



# --- codepoint-faithful levenshtein mirror (r15 unicode corpus) ---------
# DuckDB's levenshtein counts BYTES (levenshtein('café','cafe') = 2: é is
# two UTF-8 bytes) where Spark's counts CODEPOINTS (= 1) — measured r15.
# The oracles mirror the engine's codepoint contract EXACTLY by
# translating every codepoint of the corpus injection dictionary
# (tools/make_unicode_testdata.py NAME_UNI — keep in sync) to a distinct
# single ASCII byte that never occurs in c_name ("Customer#0000…" uses
# only C,u,s,t,o,m,e,r,#,digits) on BOTH arguments: the mapping is
# injective and 1:1 per codepoint, so byte distance over the translated
# strings equals codepoint distance over the originals. A no-op on pure
# ASCII corpora; display columns keep the original names.
_UNI = "éüñç"
_UNI_ASCII = "abdf"


def _lev(a: str, b: str) -> str:
    ta = f"translate({a}, '{_UNI}', '{_UNI_ASCII}')"
    tb = f"translate({b}, '{_UNI}', '{_UNI_ASCII}')"
    return f"levenshtein({ta}, {tb})"


@query(
    "fuzzy_linkage",
    oracle=f"""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                     a.c_name AS name_a, b.c_name AS name_b,
                     CAST({_lev('a.c_name', 'b.c_name')} AS BIGINT)
                       AS edit_dist
              FROM customer a JOIN customer b
                ON a.c_nationkey = b.c_nationkey
               AND a.c_custkey < b.c_custkey
              WHERE {_lev('a.c_name', 'b.c_name')} <= 2""",
)
def fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: candidate duplicate customers = same nation
    (blocking key) and name within 2 edits. Blocked equi-join — the
    quadratic edit-distance work is confined to each nation block and
    uses the bounded levenshtein (early-exit at distance 3), so cost is
    N²/(2·#blocks)·O(k·len), not all-pairs. Oracle runs the unbounded
    levenshtein with an explicit <= filter — same pair set."""
    from core_telecoms_etl_spark.operators.linkage import fuzzy_pairs

    c = load_table(spark, sf_dir, "customer")
    return fuzzy_pairs(
        c, "c_custkey", "c_name", "c_nationkey", max_dist=2
    ).select(
        "id_a",
        "id_b",
        "name_a",
        "name_b",
        F.col("edit_dist").cast("long").alias("edit_dist"),
    )


@query(
    "fuzzy_linkage_compound",
    oracle=f"""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                     a.c_name AS name_a, b.c_name AS name_b,
                     CAST({_lev('a.c_name', 'b.c_name')} AS BIGINT)
                       AS edit_dist
              FROM customer a JOIN customer b
                ON a.c_nationkey = b.c_nationkey
               AND a.c_custkey < b.c_custkey
              WHERE {_lev('a.c_name', 'b.c_name')} <= 2""",
)
def fuzzy_linkage_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution past the fixed-B wall (r13 decade finding):
    same pair semantics as `fuzzy_linkage`, but candidates come from the
    compound key (nation, xxhash64(≤2-deletion key)) instead of the
    nation block alone — `operators/linkage.fuzzy_pairs_deletion`. The
    deletion-neighborhood theorem makes the blocking LOSSLESS for ≤2
    edits on ANY corpus (module docstring), so the oracle is simply the
    exact pair SQL: the value gate checks losslessness itself, pair for
    pair. Measured mass on this corpus: sf0.1 1.27M candidate
    comparisons vs the nation block's 4.5e8 (354×); at sf10 the nation
    block is the 4.5e10 wall fuzzy_pairs' tripwire names — this arm is
    its escalation path."""
    from core_telecoms_etl_spark.operators.linkage import (
        fuzzy_pairs_deletion,
    )

    c = load_table(spark, sf_dir, "customer")
    return fuzzy_pairs_deletion(
        c, "c_custkey", "c_name", "c_nationkey", max_dist=2
    ).select(
        "id_a",
        "id_b",
        "name_a",
        "name_b",
        F.col("edit_dist").cast("long").alias("edit_dist"),
    )


@query(
    "best_match_links",
    oracle=f"""WITH cand AS (
                SELECT a.c_custkey AS cust_id, a.c_name AS left_name,
                       b.c_custkey AS master_id, b.c_name AS right_name,
                       {_lev('a.c_name', 'b.c_name')} AS ed
                FROM customer a JOIN customer b
                  ON a.c_nationkey = b.c_nationkey
                WHERE a.c_custkey % 2 = 1 AND b.c_custkey % 2 = 0
                  AND {_lev('a.c_name', 'b.c_name')} <= 2),
              ranked AS (
                SELECT cust_id, left_name, master_id, right_name, ed,
                       row_number() OVER (PARTITION BY cust_id
                                          ORDER BY ed, master_id) AS rn
                FROM cand)
              SELECT cust_id, left_name, master_id, right_name,
                     CAST(ed AS BIGINT) AS edit_dist
              FROM ranked WHERE rn = 1""",
)
def best_match_links_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution readout: attach each record to its single best
    fuzzy match in a master list (lowest edit distance, ties to the
    smallest master id) — `operators/linkage.link_best_match`, promoted
    from pytest-only per the r14 verdict. Odd-custkey customers link
    against the even-custkey "master" side within the nation block.

    Runs the `blocking="deletion"` arm, so the oracle — the exact
    unblocked-within-nation best-match SQL — gates the two-sided
    losslessness claim itself: every ≤2-edit candidate must survive
    the (nation, deletion-key-hash) equi-join on BOTH sides
    (`deletion_keys` theorem), then one window min per left id. Two
    bounded shuffles (compound-key join + per-left-id window); the
    same sub-wall candidate mass as `fuzzy_linkage_compound` at the
    sf10 decade. Tie-break is total (edit_dist, master_id), so the
    kept row is engine-unambiguous."""
    from core_telecoms_etl_spark.operators.linkage import link_best_match

    c = load_table(spark, sf_dir, "customer")
    left = c.filter(F.col("c_custkey") % 2 == 1).select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("cust_name"),
        F.col("c_nationkey").alias("cust_nation"),
    )
    right = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("master_id"),
        F.col("c_name").alias("master_name"),
        F.col("c_nationkey").alias("master_nation"),
    )
    out = link_best_match(
        left,
        right,
        ("cust_id", "master_id"),
        ("cust_name", "master_name"),
        ("cust_nation", "master_nation"),
        max_dist=2,
        blocking="deletion",
    )
    return out.select(
        "cust_id",
        "left_name",
        "master_id",
        "right_name",
        F.col("edit_dist").cast("long").alias("edit_dist"),
    )


@query(
    "scd2_history",
    oracle="""SELECT user_id, event_id, value, ts AS valid_from,
                     lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       AS valid_to,
                     lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL AS is_current
              FROM events WHERE event_type = 'signup'""",
)
def scd2_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 validity intervals from a change stream (each signup event
    as a new 'profile version'): valid_from/valid_to via one window lead,
    open row flagged current."""
    from core_telecoms_etl_spark.operators.scd import scd2_history

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    return scd2_history(
        ev.select("user_id", "event_id", "value", "ts"),
        key_cols=["user_id"],
        ts_col="ts",
        change_cols=["event_id", "value"],
    ).select(
        "user_id", "event_id", "value", "valid_from", "valid_to",
        "is_current",
    )


@query(
    "upsert",
    oracle="""WITH both_sides AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice,
                       o_orderdate, 0 AS src
                FROM orders
                UNION ALL
                SELECT o_orderkey, 'X' AS o_orderstatus,
                       o_totalprice + 1 AS o_totalprice,
                       o_orderdate, 1 AS src
                FROM orders WHERE o_orderkey % 10 = 0),
              ranked AS (
                SELECT *, row_number() OVER (
                  PARTITION BY o_orderkey
                  ORDER BY o_orderdate DESC, src DESC) AS rn
                FROM both_sides)
              SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
              FROM ranked WHERE rn = 1""",
)
def upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert: a derived update set (every 10th order flips
    status, bumps price) overlaid on the target; updates win per key.
    One shuffle on the key, no row-at-a-time MERGE loop."""
    from core_telecoms_etl_spark.operators.scd import upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
    )
    return upsert(
        orders, updates, key_cols=["o_orderkey"], version_col="o_orderdate"
    )


@query(
    "window_rank_extended",
    oracle="""SELECT o_orderkey, o_orderstatus, o_totalprice,
                     rank() OVER w AS rnk,
                     dense_rank() OVER w AS drnk,
                     ntile(4) OVER w AS quartile,
                     round(percent_rank() OVER w, 6) AS pct_rank,
                     round(cume_dist() OVER w, 6) AS cdist
              FROM orders
              WINDOW w AS (PARTITION BY o_orderstatus
                           ORDER BY o_totalprice DESC, o_orderkey)""",
)
def window_rank_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family over one window spec (unique
    tiebreaker key ⇒ deterministic). percent_rank/cume_dist are ratios of
    ints — rounded at 6dp only to guard the division's last ulp."""
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "point_in_time_join",
    oracle="""WITH v0 AS (
                SELECT user_id, ts AS valid_from,
                       max(event_id) AS version_event
                FROM events WHERE event_type = 'signup'
                GROUP BY user_id, ts),
              v AS (
                SELECT user_id, valid_from, version_event,
                       lead(valid_from) OVER (
                         PARTITION BY user_id ORDER BY valid_from)
                         AS valid_to
                FROM v0),
              f AS (
                SELECT user_id, event_id, ts, value
                FROM events WHERE event_type = 'purchase')
              SELECT f.user_id, f.event_id, f.ts, f.value,
                     v.version_event
              FROM f LEFT JOIN v
                ON f.user_id = v.user_id
               AND f.ts >= v.valid_from
               AND (v.valid_to IS NULL OR f.ts < v.valid_to)""",
)
def point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal-validity) join — each fact row joined to
    the dimension VERSION valid at the fact's event time, the lookup
    every SCD-2 star schema needs (`scd2_history` builds the versions;
    this query consumes them). Spark-first shape: because SCD-2
    intervals from a change stream are CONTIGUOUS, the interval
    predicate collapses to an as-of join (latest version with
    valid_from <= fact.ts) — `operators/temporal.asof_join`, ONE
    shuffle on the entity key, per-partition ordered scan, no interval
    residual and no per-key version explosion. The oracle states the
    interval semantics directly (LEFT JOIN on the [valid_from,
    valid_to) window) proving the equivalence. Versions are
    pre-deduped per (key, ts) so ties are impossible by construction."""
    from core_telecoms_etl_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    versions = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("version_event"))
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    return asof_join(
        facts,
        versions,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["version_event"],
        direction="backward",
    ).select("user_id", "event_id", "ts", "value", "version_event")


@query(
    "weighted_sample",
    oracle="""WITH keyed AS (
                SELECT doc_id, lang, n_chars,
                       pow((CAST(('0x' || substr(md5('ws:' ||
                              CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                            + 1.0) / 4294967296.0,
                           1.0 / (CAST(n_chars AS DOUBLE) + 1.0)) AS k
                FROM documents)
              SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
              FROM keyed ORDER BY k DESC, doc_id LIMIT 50""",
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement (Efraimidis–
    Spirakis keys, `operators/sampling.weighted_sample_k`): 50 documents
    drawn ∝ (n_chars + 1) — the importance/quality-weighted data-mixing
    draw uniform sampling can't express. Deterministic md5-derived
    uniforms, so the draw is retry-stable and the oracle replays the
    identical arithmetic (u and pow verified bit-identical across
    engines); top-k plans as TakeOrderedAndProject, no global sort."""
    from core_telecoms_etl_spark.operators.sampling import weighted_sample_k

    d = load_table(spark, sf_dir, "documents").withColumn(
        "__w", F.col("n_chars").cast("double") + F.lit(1.0)
    )
    return weighted_sample_k(d, "doc_id", "__w", 50).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )


@query(
    "snapshot_diff",
    oracle="""WITH old AS (
                SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
              new AS (
                SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 11 = 0
                            THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 5 <> 0),
              d AS (
                SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
                       CASE
                         WHEN o.o_orderkey IS NULL THEN 'insert'
                         WHEN n.o_orderkey IS NULL THEN 'delete'
                         WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey)
                           OR NOT (o.o_orderstatus
                                   IS NOT DISTINCT FROM n.o_orderstatus)
                           OR NOT (o.o_totalprice
                                   IS NOT DISTINCT FROM n.o_totalprice)
                           OR NOT (o.o_orderdate
                                   IS NOT DISTINCT FROM n.o_orderdate)
                           OR NOT (o.o_orderpriority
                                   IS NOT DISTINCT FROM n.o_orderpriority)
                           THEN 'update'
                         ELSE 'unchanged'
                       END AS change_type
                FROM old o FULL OUTER JOIN new n
                  ON o.o_orderkey = n.o_orderkey)
              SELECT o_orderkey, change_type FROM d
              WHERE change_type <> 'unchanged'""",
)
def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff between two snapshots (`operators/scd.snapshot_diff`):
    the change feed a rebuild-from-scratch warehouse lacks. Snapshots
    are carved deterministically from `orders` (keys %7 dropped from
    old, %5 from new → inserts+deletes; %11 keys get a price bump →
    updates). Null-safe column compare, no hashing — one shuffle per
    side, keys+compared columns only through the exchange."""
    from core_telecoms_etl_spark.operators.scd import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, key_cols=["o_orderkey"])


@query(
    "ab_test_stats",
    oracle="""WITH pu AS (
                SELECT user_id,
                       CAST(sum(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS x
                FROM events GROUP BY user_id),
              arm AS (
                SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
                                                || 'ab'), 1, 15))
                            AS BIGINT) % 2 AS a,
                       x
                FROM pu),
              ag AS (
                SELECT a, count(*) AS n, sum(x) AS s, sum(x*x) AS ss
                FROM arm GROUP BY a),
              one AS (
                SELECT max(CASE WHEN a = 0 THEN n END) AS n_a,
                       max(CASE WHEN a = 0 THEN s END) AS s_a,
                       max(CASE WHEN a = 0 THEN ss END) AS ss_a,
                       max(CASE WHEN a = 1 THEN n END) AS n_b,
                       max(CASE WHEN a = 1 THEN s END) AS s_b,
                       max(CASE WHEN a = 1 THEN ss END) AS ss_b
                FROM ag),
              zc AS (
                SELECT n_a, n_b,
                       CAST(s_a AS DOUBLE) / n_a AS mean_a,
                       CAST(s_b AS DOUBLE) / n_b AS mean_b,
                       CASE WHEN n_a > 1 AND n_b > 1
                              AND (n_a*ss_a - s_a*s_a)
                                + (n_b*ss_b - s_b*s_b) > 0
                       THEN
                       (CAST(s_a AS DOUBLE) / n_a
                        - CAST(s_b AS DOUBLE) / n_b)
                       / sqrt(
                           (CAST(n_a*ss_a - s_a*s_a AS DOUBLE)
                            / (CAST(n_a AS DOUBLE) * (n_a - 1))) / n_a
                         + (CAST(n_b*ss_b - s_b*s_b AS DOUBLE)
                            / (CAST(n_b AS DOUBLE) * (n_b - 1))) / n_b
                         )
                       END AS z_stat
                FROM one)
              SELECT CAST(n_a AS BIGINT) AS n_a,
                     CAST(n_b AS BIGINT) AS n_b,
                     mean_a, mean_b, z_stat,
                     CAST(abs(z_stat) > 1.96 AS BIGINT) AS significant
              FROM zc""",
)
def ab_test_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test experiment readout
    (`operators/stats.ab_test_zscore`): stable md5 50/50 arm split
    (same portable assignment as dataset_split), per-user purchase
    count as the metric, Welch z from exact BIGINT accumulators —
    means/variances derived with token-for-token mirrored IEEE ops.
    Two shuffles, 2-row fold, no window, no collect."""
    from core_telecoms_etl_spark.operators.stats import ab_test_zscore

    return ab_test_zscore(
        load_table(spark, sf_dir, "events"),
        unit_col="user_id",
        success_type="purchase",
        salt="ab",
        critical=1.96,
    )


@query(
    "rfm_segments",
    oracle="""WITH ref AS (SELECT max(o_orderdate) AS r FROM orders),
              pc AS (
                SELECT o.o_custkey,
                       max(o.o_orderdate) AS last_o,
                       count(DISTINCT o.o_orderkey) AS frequency,
                       sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                         AS m_grid
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey
                GROUP BY o.o_custkey),
              seg AS (
                SELECT c.c_mktsegment, c.c_custkey,
                       CAST(date_diff('day', CAST(pc.last_o AS DATE),
                                      CAST(ref.r AS DATE)) AS BIGINT)
                         AS recency,
                       CAST(pc.frequency AS BIGINT) AS frequency,
                       pc.m_grid
                FROM pc CROSS JOIN ref
                JOIN customer c ON pc.o_custkey = c.c_custkey),
              sc AS (
                SELECT c_mktsegment,
                       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY recency ASC, c_custkey ASC)
                            AS BIGINT) AS r_score,
                       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY frequency DESC, c_custkey ASC)
                            AS BIGINT) AS f_score,
                       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY m_grid DESC, c_custkey ASC)
                            AS BIGINT) AS m_score
                FROM seg)
              SELECT c_mktsegment, r_score, f_score, m_score,
                     CAST(count(*) AS BIGINT) AS n_customers
              FROM sc GROUP BY 1, 2, 3, 4""",
)
def rfm_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation (`operators/stats.rfm_segments`):
    recency vs corpus max date, order frequency, cent-grid lifetime
    revenue, each ntile(4)-scored within the customer's market
    segment over a fully tie-broken order — all-integer output, three
    windows sharing one exchange."""
    from core_telecoms_etl_spark.operators.stats import rfm_segments

    return rfm_segments(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "customer"),
    )


@query(
    "markov_transitions",
    oracle="""WITH t AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id)
                         AS to_type
                FROM events),
              c AS (
                SELECT from_type, to_type,
                       CAST(count(*) AS BIGINT) AS n
                FROM t WHERE to_type IS NOT NULL
                GROUP BY 1, 2)
              SELECT from_type, to_type, n,
                     CAST(n AS DOUBLE)
                       / sum(n) OVER (PARTITION BY from_type) AS p
              FROM c""",
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead() pairs each event with the user's next one
    (deterministic (ts, event_id) order), transitions are counted,
    and row-normalized probabilities come from a window sum over the
    |types|² count matrix — the path-analysis complement to
    session_paths. One shuffle on user_id for the lead; the
    normalizing window runs over the tiny aggregated matrix, never
    the events. Counts BIGINT; p = exact-int division, mirrored."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    t = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    c = (
        t.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w_norm = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_norm)).alias("p"),
    )


@query(
    "windowed_funnel",
    oracle="""WITH s AS (
                SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
              c AS (
                SELECT e.user_id, min(e.ts) AS t2
                FROM events e JOIN s ON e.user_id = s.user_id
                WHERE e.event_type = 'click' AND e.ts > s.t1
                  AND e.ts <= s.t1 + INTERVAL 48 HOURS
                GROUP BY e.user_id),
              p AS (
                SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase' AND e.ts > c.t2
                  AND e.ts <= c.t2 + INTERVAL 48 HOURS
                GROUP BY e.user_id)
              SELECT (SELECT count(*) FROM s) AS n_signup,
                     (SELECT count(*) FROM c) AS n_signup_click,
                     (SELECT count(*) FROM p)
                       AS n_signup_click_purchase""",
)
def windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (ClickHouse windowFunnel shape):
    signup -> click -> purchase where each stage lands within 48h of
    the previous one, greedy-from-earliest semantics (stage i = the
    earliest qualifying event after the chain's stage i-1; documented
    because windowed-funnel semantics differ across tools). Same
    ONE-shuffle per-user array fold as `funnel` — the horizon is an
    extra predicate inside the per-stage array_min, not a join."""
    from core_telecoms_etl_spark.operators.funnel import funnel_counts

    ev = load_table(spark, sf_dir, "events")
    return funnel_counts(
        ev,
        ["signup", "click", "purchase"],
        horizon_seconds=48 * 3600,
    ).select(
        F.col("n_signup"),
        F.col("n_signup_click"),
        F.col("n_signup_click_purchase"),
    )


@query(
    "incremental_rollup",
    oracle="""WITH full_agg AS (
                SELECT l_returnflag,
                       CAST(date_trunc('month', l_shipdate) AS DATE)
                         AS ship_month,
                       sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                         AS rev_grid,
                       CAST(count(*) AS BIGINT) AS n
                FROM lineitem WHERE l_shipdate IS NOT NULL
                GROUP BY 1, 2)
              SELECT l_returnflag, ship_month,
                     CAST(rev_grid AS BIGINT) AS rev_grid,
                     n,
                     CAST(rev_grid AS DOUBLE) / 100 AS revenue
              FROM full_agg""",
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental partial-aggregate maintenance
    (`operators/stats.merge_partial_rollup`): the historical state
    (shipments before 1998-01-01) and the new batch are aggregated
    SEPARATELY to per-(returnflag, month) sum/count partials, then
    merged by re-summation — proving merged-state == full-recompute
    (the oracle recomputes from all rows). BIGINT cent-grid sums make
    the merge exact regardless of batch boundaries or order; the
    state table is |keys|-sized, so the merge shuffle never touches
    history rows — the batch analogue of the streaming CMS/HLL merge
    path."""
    from core_telecoms_etl_spark.operators.stats import (
        merge_partial_rollup,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # a NULL-dated shipment routes to NEITHER the state nor the batch
    # predicate (both NULL) — Spark silently dropped it where the
    # oracle kept a NULL month group (r8 NULL injection); a monthly
    # partition has no NULL month, so filter explicitly, mirrored
    li = li.filter(F.col("l_shipdate").isNotNull())
    cutoff = "1998-01-01"

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "l_returnflag",
            F.date_trunc("month", "l_shipdate")
            .cast("date")
            .alias("ship_month"),
        ).agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("rev_grid"),
            F.count("*").alias("n"),
        )

    state = partial(li.filter(F.col("l_shipdate") < cutoff))
    batch = partial(li.filter(F.col("l_shipdate") >= cutoff))
    merged = merge_partial_rollup(
        [state, batch],
        key_cols=["l_returnflag", "ship_month"],
        sum_cols=["rev_grid"],
        count_col="n",
    )
    return merged.select(
        "l_returnflag",
        "ship_month",
        "rev_grid",
        "n",
        (F.col("rev_grid").cast("double") / 100).alias("revenue"),
    )


def _basket_pair_expand(baskets, a: str, b: str):
    """Unordered pair expansion over per-order sorted basket arrays via
    two bounded Generate operators: posexplode anchors `a`, then
    explode(slice(...)) emits each anchor's strictly-greater partners —
    fan-out C(basket, 2), never a fact self-join (measured vs the
    alternatives in copurchase_pairs' docstring). Rebalances the basket
    relation first: AQE coalesces the post-aggregate to a handful of
    partitions (4 at sf0.1 on 32 cores), which runs the whole
    quadratic fan-out — and the shuffle WRITE of its output —
    under-parallelized (r13 finding, same class as the grid/bootstrap
    expansions). Measured A/B: the rebalance costs ~0.1 s at sf0.1
    (the array shuffle exceeds what the small fan-out saves) and wins
    16% at sf10 (122M pairs: 11.3 s vs 13.5 s) — it is the
    scale-correct default, and the fixed cost scales with |orders|,
    not the pair count."""
    n_par = baskets.sparkSession.sparkContext.defaultParallelism
    return (
        baskets.repartition(n_par)
        .select(F.posexplode("__parts").alias("__i", a), "__parts")
        .select(
            a,
            F.explode(
                F.slice(
                    "__parts",
                    F.col("__i") + 2,
                    F.greatest(
                        F.size("__parts") - F.col("__i") - 1, F.lit(0)
                    ),
                )
            ).alias(b),
        )
    )


@query(
    "copurchase_pairs",
    oracle="""WITH d AS (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              pairs AS (
                SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
                FROM d a JOIN d b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey)
              SELECT part_a, part_b,
                     CAST(count(*) AS BIGINT) AS n_orders
              FROM pairs GROUP BY 1, 2
              ORDER BY n_orders DESC, part_a, part_b
              LIMIT 50""",
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase affinity: top-50 part pairs by the
    number of orders containing both. ONE shuffle of the fact table
    (groupBy orderkey → sorted distinct basket array), then pair
    expansion via two Generate operators — posexplode anchors part_a,
    explode(slice(...)) emits its greater partners — with fan-out
    bounded by C(basket,2), baskets ≤ ~10 items. Measured at sf0.1
    against the alternatives: 1.1s vs 1.9s for the self-join (which
    scans AND shuffles the fact twice — the formulation the oracle
    states declaratively) and vs 3.7s for a nested
    transform/flatten HOF building array-of-struct per row
    (interpreted, allocation-bound — the r5 minhash lesson again).
    Final top-50 plans TakeOrderedAndProject with a full
    (count, a, b) tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("__parts")
    )
    return (
        _basket_pair_expand(baskets, "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy(
            F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(50)
    )


@query(
    "mom_revenue_growth",
    oracle="""WITH m AS (
                SELECT l_returnflag,
                       CAST(date_trunc('month', l_shipdate) AS DATE)
                         AS ship_month,
                       sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                         AS rev_grid
                FROM lineitem WHERE l_shipdate IS NOT NULL
                GROUP BY 1, 2)
              SELECT l_returnflag, ship_month,
                     CAST(rev_grid AS DOUBLE) / 100 AS revenue,
                     (CAST(rev_grid AS DOUBLE)
                      - lag(CAST(rev_grid AS DOUBLE)) OVER w)
                     / lag(CAST(rev_grid AS DOUBLE)) OVER w
                       AS mom_growth
              FROM m
              WINDOW w AS (PARTITION BY l_returnflag
                           ORDER BY ship_month)""",
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per return flag — the
    period-over-period report every finance dashboard runs. Revenue
    accumulates on the cent grid (BIGINT, order-insensitive); growth
    divides the exact integers as doubles with a mirrored expression
    (first month NULL — no prior period). The lag window runs over
    the |flags|×|months| aggregated matrix, never the fact rows."""
    li = load_table(spark, sf_dir, "lineitem")
    # NULL-month filter, mirrored: see incremental_rollup (the lag
    # window's month order diverges on a NULL group — NULLS FIRST vs
    # NULLS LAST)
    m = li.filter(F.col("l_shipdate").isNotNull()).groupBy(
        "l_returnflag",
        F.date_trunc("month", "l_shipdate")
        .cast("date")
        .alias("ship_month"),
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("__g")
    )
    w = Window.partitionBy("l_returnflag").orderBy("ship_month")
    cur = F.col("__g").cast("double")
    prev = F.lag(cur).over(w)
    return m.select(
        "l_returnflag",
        "ship_month",
        (cur / 100).alias("revenue"),
        ((cur - prev) / prev).alias("mom_growth"),
    )


@query(
    "grouped_correlation",
    oracle="""WITH g AS (
                SELECT l_returnflag,
                       CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(round(l_quantity) AS BIGINT)) AS sx,
                       sum(CAST(round(l_discount * 100) AS BIGINT))
                         AS sy,
                       sum(CAST(round(l_quantity) AS BIGINT)
                           * CAST(round(l_quantity) AS BIGINT)) AS sxx,
                       sum(CAST(round(l_discount * 100) AS BIGINT)
                           * CAST(round(l_discount * 100) AS BIGINT))
                         AS syy,
                       sum(CAST(round(l_quantity) AS BIGINT)
                           * CAST(round(l_discount * 100) AS BIGINT))
                         AS sxy
                FROM lineitem GROUP BY l_returnflag),
              c AS (
                SELECT l_returnflag, n,
                       CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                       CAST(sy AS DOUBLE) AS syd,
                       CAST(sxx AS DOUBLE) AS sxxd,
                       CAST(syy AS DOUBLE) AS syyd,
                       CAST(sxy AS DOUBLE) AS sxyd
                FROM g),
              k AS (
                SELECT l_returnflag, n, nd, sxd, syd, sxxd, syyd,
                       (nd * sxxd - sxd * sxd) AS vx,
                       (nd * syyd - syd * syd) AS vy,
                       (nd * sxyd - sxd * syd) AS cov
                FROM c)
              SELECT l_returnflag, n,
                     CASE WHEN vx > 1e-12 * nd * sxxd
                            AND vy > 1e-12 * nd * syyd
                          THEN cov / sqrt(vx * vy)
                     END AS corr,
                     CASE WHEN vx > 1e-12 * nd * sxxd
                          THEN cov / vx
                     END AS slope,
                     CASE WHEN vx > 1e-12 * nd * sxxd
                          THEN (syd - (cov / vx) * sxd) / nd
                     END AS intercept
              FROM k""",
)
def grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation + OLS fit (does discount move
    with quantity?) from six BIGINT accumulators (n, Σx, Σy, Σx²,
    Σy², Σxy on the integer quantity / cent-grid discount) — the
    textbook single-pass sufficient-statistics form, map-side
    combined, ONE shuffle of 6 longs per group. The moment
    COMBINATIONS (n·Σx²−Σx² etc.) run in DOUBLE from the exact BIGINT
    sums — the moments_profile pattern: the all-integer forms hit the
    int64 ceiling as groups grow (the old form was ~one decade past
    sf10's 15M-row groups from overflowing at n·Σx² ∝ n²), while
    identical exact sums cast to identical doubles through identical
    expression trees stay hash-equal at every scale (BIGINT→DOUBLE is
    correctly rounded on both engines; the sums themselves stay below
    2⁵³ to ~10¹²-row groups at these grids). Degenerate groups yield
    NULL via the mirrored magnitude-relative guard
    vx > 1e-12·n·Σx² (double cancellation noise is ~5e-16·n·Σx², so
    the cut has three decades of margin each side — the r13
    moments_profile guard), never ANSI divide-by-zero. Engine-native
    corr() is NOT used precisely because its float accumulation order
    is partition-dependent."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("long")
    y = F.round(F.col("l_discount") * 100).cast("long")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd, sxd, syd, sxxd, syyd, sxyd = (
        F.col(c).cast("double")
        for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    k = g.select(
        "l_returnflag",
        "n",
        nd.alias("nd"),
        sxd.alias("sxd"),
        syd.alias("syd"),
        sxxd.alias("sxxd"),
        syyd.alias("syyd"),
        (nd * sxxd - sxd * sxd).alias("vx"),
        (nd * syyd - syd * syd).alias("vy"),
        (nd * sxyd - sxd * syd).alias("cov"),
    )
    vx, vy, cov = F.col("vx"), F.col("vy"), F.col("cov")
    gx = vx > F.lit(1e-12) * F.col("nd") * F.col("sxxd")
    gy = vy > F.lit(1e-12) * F.col("nd") * F.col("syyd")
    corr = F.when(gx & gy, cov / F.sqrt(vx * vy))
    slope = F.when(gx, cov / vx)
    intercept = F.when(
        gx, (F.col("syd") - (cov / vx) * F.col("sxd")) / F.col("nd")
    )
    return k.select(
        "l_returnflag",
        "n",
        corr.alias("corr"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


@query(
    "feature_binning",
    oracle=with_finite_events("""WITH g AS (
                SELECT event_type,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events),
              q AS (
                SELECT quantile_cont(v, 0.25) AS q1,
                       quantile_cont(v, 0.5) AS q2,
                       quantile_cont(v, 0.75) AS q3
                FROM g)
              SELECT event_type,
                     CAST(CASE WHEN v <= q1 THEN 1
                               WHEN v <= q2 THEN 2
                               WHEN v <= q3 THEN 3
                               ELSE 4 END AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(v) AS BIGINT) AS value_grid
              FROM g CROSS JOIN q
              GROUP BY 1, 2"""),
)
def feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency feature binning: global quartile boundaries
    folded back as a broadcast 1-row scalar, rows CASE-assigned to
    bins 1-4, then per-(type, bin) counts and cent-grid sums — the
    discretization step for feature pipelines and monotonic-binning
    reports. One scan feeds the percentile aggregate, one scan bins:
    no window, no sort of the fact rows.

    Quartiles are computed on the INTEGER cent grid (round(v·100) as
    long), not raw doubles: with integer lo/hi and interpolation
    fractions that are exact multiples of 0.25, every arithmetic step
    of linear interpolation is exact in IEEE double on BOTH engines,
    so bin boundaries carry zero ulp wobble at any scale — the r6
    oracle's float-grid version was one interpolation rounding away
    from a boundary flip (VERDICT r6 item 7)."""
    ev = metric_events(spark, sf_dir)
    g = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    # ONE percentile buffer via the array form (r15 optimization
    # round): three scalar percentile() aggregates each built their
    # own full value buffer over the fact; the array form evaluates
    # all three percentages against one buffer — same interpolation,
    # bit-identical values (the approx_quantiles 4-scale validation)
    q = g.agg(F.percentile("v", [0.25, 0.5, 0.75]).alias("__q")).select(
        F.col("__q")[0].alias("q1"),
        F.col("__q")[1].alias("q2"),
        F.col("__q")[2].alias("q3"),
    )
    binned = g.join(F.broadcast(q)).select(
        "event_type",
        F.when(F.col("v") <= F.col("q1"), 1)
        .when(F.col("v") <= F.col("q2"), 2)
        .when(F.col("v") <= F.col("q3"), 3)
        .otherwise(4)
        .cast("long")
        .alias("bin"),
        "v",
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").alias("value_grid"),
    )


@query(
    "ks_two_sample",
    oracle="""WITH v AS (
                SELECT value,
                       CAST(sum(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS a,
                       CAST(sum(CASE WHEN event_type = 'click'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS b
                FROM events
                WHERE event_type IN ('purchase', 'click')
                  AND value IS NOT NULL
                GROUP BY value),
              c AS (
                SELECT sum(a) OVER (ORDER BY value) AS ca,
                       sum(b) OVER (ORDER BY value) AS cb
                FROM v),
              t AS (
                SELECT CAST(sum(a) AS BIGINT) AS n_a,
                       CAST(sum(b) AS BIGINT) AS n_b
                FROM v),
              m AS (
                SELECT CAST(max(abs(t.n_b * c.ca - t.n_a * c.cb))
                            AS BIGINT) AS d_scaled
                FROM c CROSS JOIN t)
              SELECT t.n_a, t.n_b, m.d_scaled,
                     CAST(m.d_scaled AS DOUBLE)
                       / (CAST(t.n_a AS DOUBLE) * t.n_b) AS d_stat,
                     CAST(
                       CAST(m.d_scaled AS DOUBLE)
                         / (CAST(t.n_a AS DOUBLE) * t.n_b)
                       > 1.358E0 * sqrt((CAST(t.n_a AS DOUBLE) + t.n_b)
                                        / (CAST(t.n_a AS DOUBLE)
                                           * t.n_b))
                       AS BIGINT) AS reject_h0
              FROM m CROSS JOIN t""",
)
def ks_two_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distribution-shift test
    (`operators/stats.ks_two_sample`): purchase vs click value
    distributions. The statistic is the all-integer
    max |n_b·C_a − n_a·C_b| over per-value cumulative counts, so the
    oracle's single-partition window and the engine's two-level
    range-bucketed prefix sum (packing.py shape — no global window
    over the fact-sized relation) produce the identical BIGINT; only
    the final D and the α=0.05 threshold are mirrored IEEE."""
    from core_telecoms_etl_spark.operators.stats import ks_two_sample

    return ks_two_sample(
        load_table(spark, sf_dir, "events"),
        value_col="value",
        group_col="event_type",
        group_a="purchase",
        group_b="click",
    )


@query(
    "feature_scaling",
    oracle=with_finite_events("""WITH st AS (
                SELECT event_type,
                       min(value) AS mn, max(value) AS mx,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS s,
                       CAST(sum(CAST(round(value * 100) AS BIGINT)
                                * CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS ss
                FROM events GROUP BY event_type),
              st2 AS (
                SELECT event_type, mn, mx, n,
                       CAST(n AS DOUBLE) AS nd,
                       CAST(s AS DOUBLE) AS sd,
                       CAST(ss AS DOUBLE) AS ssd
                FROM st),
              st3 AS (
                SELECT event_type, mn, mx, n, nd, sd, ssd,
                       (nd * ssd - sd * sd) AS vn
                FROM st2)
              SELECT e.event_id, e.event_type,
                     CASE WHEN st.mx > st.mn
                          THEN (e.value - st.mn) / (st.mx - st.mn)
                     END AS minmax_scaled,
                     CASE WHEN st.n > 1
                            AND st.vn > 1e-12 * st.nd * st.ssd
                          THEN (e.value - st.sd / st.nd / 100)
                               / (sqrt(st.vn
                                       / (st.nd * (st.nd - 1))) / 100)
                     END AS zscore
              FROM events e JOIN st3 st ON e.event_type = st.event_type"""),
)
def feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling — the normalization step every ML
    pipeline runs before training: min-max to [0,1] and z-score
    standardization, with group statistics from ONE aggregation pass
    broadcast back into the row scan (two passes by necessity —
    corpus-relative scaling — but the second never shuffles).

    Exactness: min/max are the parquet doubles themselves; mean and
    sample std derive from exact BIGINT cent-grid accumulators with
    token-for-token mirrored expressions (sum-of-squares form; the
    /100 de-scalings stay OUTSIDE the sqrt so both engines run the
    identical op sequence). The variance combination n·Σx² − (Σx)²
    runs in DOUBLE from the individually-cast BIGINT sums — the
    grouped_correlation / moments_profile pattern. The r13 form
    combined in 128-bit (DECIMAL(38,0) ↔ HUGEINT) and cast the
    RESULT to double, but DuckDB's HUGEINT→DOUBLE is not correctly
    rounded (upper·2⁶⁴ + lower, two roundings) while Spark's
    Decimal→double is, so any group with n·Σx² − (Σx)² past 2⁶⁴
    (~1.8e19 — exactly the sf10 regime the 128-bit form targeted,
    vn ≈ 4e20) could diverge at the ulp and flip the hash gate on the
    raw zscore column. BIGINT→DOUBLE is correctly rounded on BOTH
    engines, and identical double expression trees over identical
    inputs are bit-equal at every scale. The oracle's st CTE wraps
    both sums in CAST(... AS BIGINT) so DuckDB's HUGEINT accumulator
    is narrowed to 64 bits BEFORE the double conversion — both
    engines then run the identical BIGINT→DOUBLE (r14 ADVICE: an
    exposed HUGEINT re-introduces the two-rounding path even when the
    value fits). The mirror contract holds only while the sums stay
    below 2⁵³: at these cent grids (|x·100| ≲ 1e5, so x² terms
    ≲ 1e10) that is ~10⁵–10⁶ rows per group — past that,
    re-anchor the oracle on the exact integer accumulators (compare
    s/ss directly), not the raw double zscore.
    Degenerate groups (constant value, n=1) yield NULL via the
    mirrored magnitude-relative guard vn > 1e-12·n·Σx² (double
    cancellation noise ~5e-16·n·Σx² — three decades of margin each
    side), never ANSI divide-by-zero."""
    ev = metric_events(spark, sf_dir)
    v = F.round(F.col("value") * 100).cast("long")
    st = ev.groupBy(F.col("event_type").alias("__t")).agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count("*").cast("long").alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("ss"),
    )
    j = ev.join(F.broadcast(st), F.col("event_type") == F.col("__t"))
    n = F.col("n")
    nd = n.cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    minmax = F.when(
        F.col("mx") > F.col("mn"),
        (F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")),
    )
    vn = nd * ssd - sd * sd
    mean = sd / nd / 100
    std = F.sqrt(vn / (nd * (nd - F.lit(1.0)))) / 100
    z = F.when(
        (n > 1) & (vn > F.lit(1e-12) * nd * ssd),
        (F.col("value") - mean) / std,
    )
    return j.select(
        "event_id",
        "event_type",
        minmax.alias("minmax_scaled"),
        z.alias("zscore"),
    )


@query(
    "weighted_median",
    oracle="""WITH w AS (
                SELECT l_returnflag, l_extendedprice AS price,
                       sum(CAST(round(l_quantity) AS BIGINT)) AS wt
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                GROUP BY 1, 2),
              c AS (
                SELECT l_returnflag, price, wt,
                       sum(wt) OVER (PARTITION BY l_returnflag
                                     ORDER BY price) AS cum,
                       sum(wt) OVER (PARTITION BY l_returnflag)
                         AS total
                FROM w)
              SELECT l_returnflag,
                     min(price) FILTER (2 * cum >= total)
                       AS weighted_median_price,
                     CAST(min(total) AS BIGINT) AS total_weight
              FROM c GROUP BY l_returnflag""",
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile every billing/settlement report needs (a median that
    counts a 50-unit line 50 times). Selection is EXACT and
    engine-unambiguous: the smallest price whose cumulative integer
    weight reaches half the total (2·cum ≥ total — no float halves,
    no interpolation semantics to disagree on). The cumulative window
    runs over the per-(flag, price) aggregated relation — bounded by
    distinct prices per flag, not fact rows; at extreme price
    cardinality the same two-level range-bucketed prefix sum the KS
    test uses applies unchanged.

    NULL prices are excluded EXPLICITLY (r15 NULL corpus): a NULL
    price is not a median candidate (the aggregate-ignores-NULL
    convention every percentile follows), and leaving the NULL group
    in the cumulative window diverges silently — Spark orders NULLS
    FIRST ascending, DuckDB NULLS LAST, shifting every cumulative
    weight and the selected median with it."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    w = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("wt")
    )
    win = Window.partitionBy("l_returnflag").orderBy("price")
    c = w.select(
        "l_returnflag",
        "price",
        F.sum("wt")
        .over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("wt")
        .over(
            Window.partitionBy("l_returnflag").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("total"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("price")))
        .alias("weighted_median_price"),
        F.min("total").cast("long").alias("total_weight"),
    )


@query(
    "activity_streaks",
    oracle="""WITH d AS (
                SELECT DISTINCT user_id,
                       CAST(date_trunc('day', ts) AS DATE) AS day
                FROM events),
              g AS (
                SELECT user_id, day,
                       day - CAST(row_number() OVER (
                         PARTITION BY user_id ORDER BY day) AS INTEGER)
                         AS grp
                FROM d),
              s AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS streak_len,
                       min(day) AS streak_start
                FROM g GROUP BY user_id, grp)
              SELECT user_id,
                     max(streak_len) AS longest_streak,
                     CAST(count(*) AS BIGINT) AS n_streaks,
                     min(streak_start) AS first_active_day
              FROM s GROUP BY user_id""",
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern (engagement/retention reporting): streaks
    are islands where day − row_number(day) is constant, so one
    per-user window + two integer aggregations find every run with no
    self-join and no per-day explode. All dates/integers — exact."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        "day",
        F.date_sub(
            "day", F.row_number().over(w)
        ).alias("grp"),
    )
    s = g.groupBy("user_id", "grp").agg(
        F.count("*").cast("long").alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    return s.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.count("*").cast("long").alias("n_streaks"),
        F.min("streak_start").alias("first_active_day"),
    )


@query(
    "pareto_classes",
    oracle="""WITH rev AS (
                SELECT l_partkey,
                       sum(CAST(round(l_extendedprice*100) AS BIGINT))
                         AS g
                FROM lineitem GROUP BY l_partkey),
              t AS (SELECT sum(g) AS total FROM rev),
              c AS (
                SELECT g,
                       sum(g) OVER (ORDER BY g DESC, l_partkey)
                         AS cum
                FROM rev),
              cls AS (
                SELECT g,
                       CASE WHEN 5 * cum <= 4 * t.total THEN 'A'
                            WHEN 20 * cum <= 19 * t.total THEN 'B'
                            ELSE 'C' END AS abc
                FROM c CROSS JOIN t)
              SELECT abc,
                     CAST(count(*) AS BIGINT) AS n_parts,
                     CAST(sum(g) AS DOUBLE) / 100 AS revenue
              FROM cls GROUP BY abc""",
)
def pareto_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of parts by revenue (A = first 80%
    of cumulative revenue, B = next 15%, C = tail) — the inventory
    concentration report. Class boundaries are INTEGER inequalities
    on exact grid sums (5·cum ≤ 4·total etc. — no float shares), so
    membership is engine-unambiguous even at boundary parts. The
    cumulative order is built with the same two-level range-bucketed
    prefix sum as the KS CDFs (descending revenue + partkey
    tiebreak) — the |parts|-sized relation never funnels through a
    single-partition window."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("g")
    )
    span = rev.agg(
        F.min("g").alias("__lo"),
        F.max("g").alias("__hi"),
        F.sum("g").alias("total"),
    )
    n_b = 64
    bucketed = rev.join(F.broadcast(span)).withColumn(
        "__bkt",
        F.when(
            F.col("__hi") > F.col("__lo"),
            # descending buckets: highest revenue -> bucket 0, so the
            # bucket index is monotone in the (g DESC) scan order
            F.lit(n_b - 1)
            - F.least(
                F.lit(n_b - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("g") - F.col("__lo"))
                        * n_b
                        / (F.col("__hi") - F.col("__lo"))
                    ).cast("long"),
                ),
            ),
        ).otherwise(F.lit(0)),
    )
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(F.desc("g"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_in = bucketed.select(
        "__bkt", "g", "total", F.sum("g").over(w_in).alias("__cin")
    )
    totals = bucketed.groupBy("__bkt").agg(F.sum("g").alias("__tb"))
    wg = (
        Window.partitionBy(F.pmod(F.col("__bkt"), F.lit(1)))
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        "__bkt", (F.sum("__tb").over(wg) - F.col("__tb")).alias("__off")
    )
    cum = cum_in.join(F.broadcast(offsets), "__bkt").select(
        "g",
        "total",
        (F.col("__off") + F.col("__cin")).alias("cum"),
    )
    abc = (
        F.when(5 * F.col("cum") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("total"), "B")
        .otherwise("C")
    )
    return cum.groupBy(abc.alias("abc")).agg(
        F.count("*").cast("long").alias("n_parts"),
        (F.sum("g").cast("double") / 100).alias("revenue"),
    )


@query(
    "traffic_heatmap",
    oracle="""SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                     CAST(hour(ts) AS BIGINT) AS hod,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(count(DISTINCT user_id) AS BIGINT)
                       AS n_users
              FROM events GROUP BY 1, 2""",
)
def traffic_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week traffic heat map — the capacity-
    planning / staffing grid every telco NOC runs. Pure integer
    calendar extraction, one map-side-combined aggregation over at
    most 168 cells. NOTE the engines disagree on weekday numbering —
    Spark dayofweek is Sunday=1, DuckDB's is Sunday=0 (measured) —
    so the oracle adds 1; output is Spark's 1-7 convention."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "winsorize_features",
    oracle=with_finite_events("""WITH g AS (
                SELECT event_type,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events),
              q AS (
                SELECT event_type AS qt,
                       CAST(round(quantile_cont(v, 0.05)) AS BIGINT)
                         AS lo,
                       CAST(round(quantile_cont(v, 0.95)) AS BIGINT)
                         AS hi
                FROM g GROUP BY 1)
              SELECT g.event_type,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN g.v < q.lo THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_clipped_low,
                     CAST(sum(CASE WHEN g.v > q.hi THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_clipped_high,
                     CAST(sum(CASE WHEN g.v < q.lo THEN q.lo
                                   WHEN g.v > q.hi THEN q.hi
                                   ELSE g.v END) AS DOUBLE) / 100.0
                       AS sum_winsorized
              FROM g JOIN q ON g.event_type = q.qt
              GROUP BY 1"""),
)
def winsorize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clip at the 5th/95th percentile) — the
    outlier-robust feature transform every training pipeline applies
    before scaling. Plan: per-type percentile bounds from ONE grouped
    aggregate over the integer cent grid, broadcast back (group count
    is event-type-sized, tiny), rows CASE-clipped JVM-side, then one
    grouped sum — two fact passes total, no window, no sort of fact
    rows.

    Exactness: percentiles interpolate on exact integers and are then
    ROUNDED to the grid (identical doubles → identical rounding both
    engines), so clip bounds are exact BIGINTs, clipped values stay
    on the integer grid, and the winsorized sum is exact long
    arithmetic with one final divide — no float-summation-order risk
    at any scale."""
    ev = metric_events(spark, sf_dir)
    g = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    # one shared percentile buffer per group (array form — see
    # quartile binning above); round/cast applied per element
    q = (
        g.groupBy(F.col("event_type").alias("qt"))
        .agg(F.percentile("v", [0.05, 0.95]).alias("__q"))
        .select(
            "qt",
            F.round(F.col("__q")[0]).cast("bigint").alias("lo"),
            F.round(F.col("__q")[1]).cast("bigint").alias("hi"),
        )
    )
    clipped = g.join(
        F.broadcast(q), g["event_type"] == F.col("qt")
    ).select(
        "event_type",
        "v",
        "lo",
        "hi",
        F.when(F.col("v") < F.col("lo"), F.col("lo"))
        .when(F.col("v") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("v"))
        .alias("w"),
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_low"),
        F.sum(F.when(F.col("v") > F.col("hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_high"),
        (F.sum("w").cast("double") / F.lit(100.0)).alias(
            "sum_winsorized"
        ),
    )


# PageRank oracle: the recurrence is UNROLLED to the same fixed
# iteration count the Spark operator runs, generated from one Python
# loop so the two sides cannot desync on depth or constants. All float
# literals are CAST to DOUBLE in SQL: DuckDB parses bare 0.85 / 1.0 as
# DECIMAL, and decimal arithmetic (1.0 - 0.85 = exact 0.15) yields a
# DIFFERENT double than the IEEE subtraction Spark runs.
_PR_ITERS = 5


def _pagerank_oracle(iters: int) -> str:
    sql = """WITH pairs AS (
                SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey),
              edges AS (
                SELECT src, dst FROM pairs
                UNION ALL
                SELECT dst AS src, src AS dst FROM pairs),
              deg AS (
                SELECT src, CAST(count(*) AS BIGINT) AS deg
                FROM edges GROUP BY src),
              ew AS (
                SELECT e.src, e.dst, d.deg
                FROM edges e JOIN deg d USING (src)),
              nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM part),
              r0 AS (
                SELECT p_partkey AS node, CAST(1.0 AS DOUBLE) / nn.n AS rank
                FROM part CROSS JOIN nn)"""
    for i in range(1, iters + 1):
        sql += f""",
              c{i} AS (
                SELECT e.dst, sum(r.rank / e.deg) AS s
                FROM r{i - 1} r JOIN ew e ON r.node = e.src
                GROUP BY e.dst),
              r{i} AS (
                SELECT p.p_partkey AS node,
                       round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                               / nn.n
                             + CAST(0.85 AS DOUBLE) * COALESCE(c.s,
                                   CAST(0.0 AS DOUBLE)), 9) AS rank
                FROM part p CROSS JOIN nn
                LEFT JOIN c{i} c ON c.dst = p.p_partkey)"""
    sql += f"""
              SELECT node, rank FROM r{iters}
              ORDER BY rank DESC, node LIMIT 25"""
    return sql


def _copurchase_graph(spark: SparkSession, sf_dir: str):
    """(edges, nodes) of the co-purchase graph — factored from
    pagerank_copurchase so tools/agg_checksum_compare.py's decade-scale
    invariant gate can rank the FULL node set (the query itself ships
    only the top 25; the rank-mass conservation algebra needs every
    row). Same plan as copurchase_pairs: one fact shuffle into
    per-order sorted baskets, pair expansion via two Generates, then
    distinct + symmetrize."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("__parts")
    )
    pairs = (
        _basket_pair_expand(baskets, "src", "dst")
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return edges, part.select(F.col("p_partkey").alias("node"))


@query("pagerank_copurchase", oracle=_pagerank_oracle(_PR_ITERS))
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the co-purchase graph — which parts sit
    at the center of the basket network (cross-sell hubs), the iterative
    graph workload every native engine with recursion runs and Spark
    expresses as a driver-coordinated join loop (operators/graph.py
    pagerank; same Pregel shape GraphX uses).

    Graph build reuses the copurchase_pairs plan: ONE fact shuffle into
    per-order sorted baskets, pair expansion via two Generate operators
    (never a fact self-join), then distinct + symmetrize. Nodes are the
    full part catalog, so never-co-purchased parts settle at the
    teleport floor and the oracle's node set is closed. 5 iterations,
    d=0.85, each iteration snapped at 9dp (see operator docstring for
    the cross-engine determinism argument); top-25 by (rank, node) via
    TakeOrderedAndProject. The ORACLE unrolls the identical recurrence
    as 5 chained CTEs — a genuinely iterative algorithm under the full
    exact-value oracle check."""
    from core_telecoms_etl_spark.operators.graph import pagerank

    edges, nodes = _copurchase_graph(spark, sf_dir)
    ranks = pagerank(
        edges,
        nodes,
        damping=0.85,
        iterations=_PR_ITERS,
        snap_dp=9,
    )
    return ranks.orderBy(F.desc("rank"), "node").limit(25)


def _morton_sql(a: str, b: str, bits: int = 8) -> str:
    """DuckDB bit-interleave expression mirroring
    operators/layout.py::interleave_bits, generated from the same loop
    structure so the two cannot desync."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


@query(
    "zorder_locality",
    oracle=with_finite_events(f"""WITH g AS (
                 SELECT user_id AS a,
                        CAST(round(value * 100) AS BIGINT) AS b
                 FROM events),
               bounds AS (
                 SELECT CAST(min(a) AS BIGINT) AS amin,
                        CAST(max(a) AS BIGINT) AS amax,
                        CAST(min(b) AS BIGINT) AS bmin,
                        CAST(max(b) AS BIGINT) AS bmax
                 FROM g),
               norm AS (
                 SELECT CAST(floor(((a - amin) * 256)
                                   / (amax - amin + 1)) AS BIGINT) AS an,
                        CAST(floor(((b - bmin) * 256)
                                   / (bmax - bmin + 1)) AS BIGINT) AS bn
                 FROM g CROSS JOIN bounds),
               keyed AS (
                 SELECT an, bn,
                        ({_morton_sql('an', 'bn')}) AS zkey
                 FROM norm)
               SELECT CAST(zkey >> 10 AS BIGINT) AS bucket,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(min(an) AS BIGINT) AS a_lo,
                      CAST(max(an) AS BIGINT) AS a_hi,
                      CAST(min(bn) AS BIGINT) AS b_lo,
                      CAST(max(bn) AS BIGINT) AS b_hi
               FROM keyed GROUP BY 1"""),
)
def zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering report — the layout-maintenance diagnostic
    behind `operators/layout.py::zorder_by` (the OPTIMIZE ZORDER
    analog): events mapped onto the Morton curve of (user_id, value),
    curve split into 64 equal key ranges (the file boundaries a
    z-ordered rewrite would produce), and per range the min/max span
    of BOTH normalized dimensions — exactly the parquet footer
    tightness that decides multi-dimensional data skipping. Every
    bucket's spans sit near 1/8 of each dimension (√64 cells per
    axis), where a 1-D sort would show one tight dimension and the
    other spanning the full range.

    All arithmetic is exact: integer min/max normalization
    (floor-div of exactly representable longs), a pure shift/and/or
    Morton key inside whole-stage codegen, one 1-row bounds broadcast,
    one groupBy of 64 buckets. The bit-interleave SQL is GENERATED
    from the same loop as the Spark expression."""
    from core_telecoms_etl_spark.operators.layout import (
        interleave_bits,
        normalize_minmax,
    )

    ev = metric_events(spark, sf_dir)
    g = ev.select(
        F.col("user_id").cast("long").alias("a"),
        F.round(F.col("value") * 100).cast("long").alias("b"),
    )
    bounds = g.agg(
        F.min("a").alias("amin"),
        F.max("a").alias("amax"),
        F.min("b").alias("bmin"),
        F.max("b").alias("bmax"),
    )
    norm = g.crossJoin(F.broadcast(bounds)).select(
        normalize_minmax(
            F.col("a"), F.col("amin"), F.col("amax"), bits=8
        ).alias("an"),
        normalize_minmax(
            F.col("b"), F.col("bmin"), F.col("bmax"), bits=8
        ).alias("bn"),
    )
    keyed = norm.withColumn(
        "zkey", interleave_bits(F.col("an"), F.col("bn"), bits=8)
    )
    return (
        keyed.groupBy(
            F.shiftright("zkey", 10).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("an").cast("long").alias("a_lo"),
            F.max("an").cast("long").alias("a_hi"),
            F.min("bn").cast("long").alias("b_lo"),
            F.max("bn").cast("long").alias("b_hi"),
        )
    )


def _events_fingerprint(sf_dir: str) -> str:
    """12-hex fingerprint of the events parquet source (ADVICE r10) —
    the shared metadata-stat fingerprint from `caching.py`."""
    import os

    from core_telecoms_etl_spark.caching import path_fingerprint

    return path_fingerprint(os.path.join(sf_dir, "events.parquet"))


def _pruned_layout_paths(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the date-partitioned star layout SURVEY §4.2 promises
    ("so pruning has something to bite on"): events written
    `partitionBy(event_date)` (one folder per day — the layout
    `sources/writers.py::write_parquet` produces in production) plus a
    tiny date dimension (event_date, dow). Write-once per SOURCE
    GENERATION: the cache dir is keyed by (sf_dir, fingerprint of the
    events parquet listing), so a layout built from an older generation
    of a scratch corpus (e.g. a regenerated /tmp/spark_graft_sf1, which
    is byte-different each rebuild) simply lives at a different path
    and is never reused for the new bytes (ADVICE r10 — the r10
    version keyed on sf_dir alone and trusted isdir, silently scanning
    stale facts). A dir that exists under the fingerprinted name is
    complete by construction: it can only appear via the atomic rename
    below, and pre-fingerprint partial dirs have a different name. A
    missing one is built in a per-pid staging dir and atomically
    renamed into place, so two concurrent processes (pytest beside
    check_oracle — ADVICE r9) never scan a half-written fact: each
    either reuses the completed layout or completes its own rename,
    and the rename loser reuses the winner's."""
    import os
    import re

    from core_telecoms_etl_spark.caching import build_once
    from core_telecoms_etl_spark.sources.writers import write_parquet

    tag = re.sub(r"\W+", "_", sf_dir.strip("/"))
    fp = _events_fingerprint(sf_dir)

    def _build(stage: str) -> None:
        # the layout carries the poisoned-metric contract (value
        # normalized through finite_or_null) — partition_pruned_rollup
        # sums value, and its oracle is with_finite_events-wrapped to
        # the same relation
        ev = metric_events(spark, sf_dir).select(
            "event_id",
            "event_type",
            "value",
            F.to_date("ts").alias("event_date"),
        )
        write_parquet(
            ev,
            os.path.join(stage, "events_by_day"),
            mode="overwrite",
            partition_by=["event_date"],
        )
        dim = (
            ev.select("event_date")
            .distinct()
            .select(
                "event_date",
                F.weekday("event_date").cast("int").alias("dow"),
            )
        )
        write_parquet(dim, os.path.join(stage, "date_dim"), mode="overwrite")

    base = build_once(f"ctes_pruned_{tag}_{fp}", _build)
    return os.path.join(base, "events_by_day"), os.path.join(base, "date_dim")


@query(
    "partition_pruned_rollup",
    oracle=with_finite_events("""WITH f AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
                       event_type, value
                FROM events
                WHERE CAST(date_trunc('day', ts) AS DATE)
                      BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'),
              d AS (
                SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
                         AS event_date
                FROM events
                WHERE isodow(CAST(date_trunc('day', ts) AS DATE)) = 1)
              SELECT f.event_type,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(count(DISTINCT f.event_date) AS BIGINT) AS n_days,
                     round(sum(f.value), 2) AS value_sum
              FROM f JOIN d USING (event_date)
              GROUP BY 1"""),
)
def partition_pruned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.15 — STATIC + DYNAMIC partition pruning on the
    date-partitioned layout (VERDICT r8 ask #4). The fact is events
    partitioned by day on disk; the query stacks both pruning forms:

    - static: a literal two-week BETWEEN on the partition column —
      resolved at planning, the scan lists only 14 of the ~30 day
      folders (`PartitionFilters` in the plan, no data read outside);
    - dynamic (DPP): a join to the date dim filtered to Mondays
      (dow = 0) — the qualifying dates are only known at runtime, so
      Catalyst injects a `dynamicpruning` subquery that reuses the
      broadcast of the dim to skip fact partitions before the scan.

    Both are plan-locked in tests/test_plans.py. At 100 TB this is THE
    difference between scanning 2 days and scanning 7 years: partition
    pruning is I/O elimination, upstream of every other optimization.
    The oracle recomputes the same relation from the unpartitioned
    events table — pruning is a plan property, not a semantics change.
    Empty-facts safe: reads use explicit schemas (an empty partitioned
    write leaves no files to infer from)."""
    fact_path, dim_path = _pruned_layout_paths(spark, sf_dir)
    fact = spark.read.schema(
        "event_id long, event_type string, value double, event_date date"
    ).parquet(fact_path)
    dim = spark.read.schema("event_date date, dow int").parquet(dim_path)
    mondays = dim.filter(F.col("dow") == 0).select("event_date")
    return (
        fact.filter(
            F.col("event_date").between(
                F.lit("2024-01-08").cast("date"),
                F.lit("2024-01-21").cast("date"),
            )
        )
        .join(mondays, "event_date")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_date").alias("n_days"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


@query(
    "triangle_count",
    oracle="""WITH pl AS (
                SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
              e AS (
                SELECT DISTINCT a.p AS a, b.p AS b
                FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
              deg AS (
                SELECT v, count(*) AS d
                FROM (SELECT a AS v FROM e
                      UNION ALL SELECT b AS v FROM e)
                GROUP BY 1),
              tri AS (
                SELECT count(*) AS t
                FROM e e1
                JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
              base AS (
                SELECT count(*) AS n_nodes,
                       CAST(CAST(coalesce(sum(d), 0) AS BIGINT) / 2
                            AS BIGINT) AS n_edges,
                       CAST(CAST(coalesce(sum(d * (d - 1)), 0) AS BIGINT) / 2
                            AS BIGINT) AS n_wedges
                FROM deg)
              SELECT n_nodes, n_edges, n_wedges,
                     CAST(t AS BIGINT) AS n_triangles,
                     CASE WHEN n_wedges > 0 THEN
                       round(3.0 * CAST(t AS DOUBLE)
                             / CAST(n_wedges AS DOUBLE), 6)
                     END AS clustering_coeff
              FROM base CROSS JOIN tri""",
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the
    co-purchase graph (parts linked when one order contains both) —
    the standard "how cliquish is this affinity graph" readout.
    Degree-ordered orientation in `operators/graph.py triangle_stats`
    bounds the wedge self-join fan-out by out-degree ≤ O(√m) — the
    oracle states the naive a<b triple join declaratively; both count
    each triangle exactly once."""
    from core_telecoms_etl_spark.operators.graph import triangle_stats

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("__parts")
    )
    edges = (
        _basket_pair_expand(baskets, "src", "dst")
    )
    return triangle_stats(edges)


@query(
    "node_jaccard_similarity",
    oracle="""WITH pl AS (
                SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
              deg AS (SELECT p, count(*) AS d FROM pl GROUP BY 1),
              pairs AS (
                SELECT a.p AS pa, b.p AS pb, count(*) AS c
                FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p
                GROUP BY 1, 2),
              j AS (
                SELECT pa, pb, c, da.d AS da, db.d AS db
                FROM pairs
                JOIN deg da ON pa = da.p
                JOIN deg db ON pb = db.p)
              SELECT pa AS part_a, pb AS part_b,
                     c AS n_common, (da + db - c) AS n_union,
                     round(CAST(c AS DOUBLE) / (da + db - c), 6) AS jaccard
              FROM j
              ORDER BY jaccard DESC, pa, pb LIMIT 25""",
)
def node_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-overlap part similarity: Jaccard of the ORDER SETS
    of two parts (structural "bought in the same baskets" affinity, the
    graph analogue of the text near-dup jaccard). Top-25 pairs with a
    full (jaccard, a, b) tiebreak.

    Exactness: common/degree/union counts are exact BIGINT (pairs only
    form inside shared baskets — the bipartite inverted index, never
    all |parts|² pairs); jaccard is one mirrored double division.

    Scale: ONE fact shuffle to sorted basket arrays, pair expansion via
    the two bounded Generate operators (the measured copurchase plan),
    degree joins on part key, TakeOrderedAndProject top-25."""
    li = load_table(spark, sf_dir, "lineitem")
    pl = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    deg = pl.groupBy("p").agg(F.count("*").alias("d"))
    baskets = pl.groupBy("o").agg(F.sort_array(F.collect_set("p")).alias("__parts"))
    pairs = (
        _basket_pair_expand(baskets, "pa", "pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("c"))
    )
    j = (
        pairs.join(
            deg.select(F.col("p").alias("pa"), F.col("d").alias("da")), "pa"
        )
        .join(
            deg.select(F.col("p").alias("pb"), F.col("d").alias("db")), "pb"
        )
    )
    uni = F.col("da") + F.col("db") - F.col("c")
    return (
        j.select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("c").alias("n_common"),
            uni.alias("n_union"),
            F.round(F.col("c").cast("double") / uni, 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "part_a", "part_b")
        .limit(25)
    )


@query(
    "lift_analysis",
    oracle="""WITH pl AS (
                SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
              nt AS (SELECT count(DISTINCT o) AS n_orders FROM pl),
              deg AS (SELECT p, count(*) AS d FROM pl GROUP BY 1),
              pairs AS (
                SELECT a.p AS pa, b.p AS pb, count(*) AS c
                FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p
                GROUP BY 1, 2),
              j AS (
                SELECT pa, pb, c, da.d AS da, db.d AS db, n_orders
                FROM pairs
                JOIN deg da ON pa = da.p
                JOIN deg db ON pb = db.p
                CROSS JOIN nt
                WHERE c >= 3)
              SELECT pa AS part_a, pb AS part_b,
                     c AS n_both, da AS n_a, db AS n_b,
                     round(CAST(c AS DOUBLE) / n_orders, 6) AS support,
                     round(CAST(c AS DOUBLE) / da, 6) AS confidence_a_b,
                     round(CAST(c AS DOUBLE) * n_orders
                           / (CAST(da AS DOUBLE) * db), 6) AS lift
              FROM j
              ORDER BY lift DESC, pa, pb LIMIT 25""",
)
def lift_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: support / confidence / lift for
    part pairs with ≥3 co-occurrences, top-25 by lift — the
    recommendation-rule readout on top of the co-purchase counts
    (`copurchase_pairs` ranks by raw frequency; lift corrects for item
    popularity).

    Exactness: all counts exact BIGINT from the bipartite inverted
    index (pairs only form inside shared baskets); the three ratios
    are single mirrored double expressions with full (lift, a, b)
    tiebreaks.

    Scale: the measured copurchase plan — one fact shuffle to basket
    arrays, bounded Generate pair expansion, degree joins on part key,
    a 1-row broadcast total, TakeOrdered top-25."""
    li = load_table(spark, sf_dir, "lineitem")
    pl = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    nt = pl.agg(F.count_distinct("o").alias("n_orders"))
    deg = pl.groupBy("p").agg(F.count("*").alias("d"))
    baskets = pl.groupBy("o").agg(
        F.sort_array(F.collect_set("p")).alias("__parts")
    )
    pairs = (
        _basket_pair_expand(baskets, "pa", "pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("c"))
        .filter(F.col("c") >= 3)
    )
    j = (
        pairs.join(
            deg.select(F.col("p").alias("pa"), F.col("d").alias("da")), "pa"
        )
        .join(
            deg.select(F.col("p").alias("pb"), F.col("d").alias("db")), "pb"
        )
        .join(F.broadcast(nt))
    )
    return (
        j.select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("c").alias("n_both"),
            F.col("da").alias("n_a"),
            F.col("db").alias("n_b"),
            F.round(F.col("c").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("c").cast("double") / F.col("da"), 6).alias(
                "confidence_a_b"
            ),
            F.round(
                F.col("c").cast("double")
                * F.col("n_orders")
                / (F.col("da").cast("double") * F.col("db")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(25)
    )


@query(
    "cohort_ltv_curve",
    oracle=with_finite_events("""WITH first AS (
                SELECT user_id,
                       CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
                FROM events GROUP BY user_id),
              sizes AS (SELECT cohort, count(*) AS n_users
                        FROM first GROUP BY 1),
              spend AS (
                SELECT f.cohort,
                       CAST(floor(date_diff('day', CAST(f.cohort AS
                         TIMESTAMP), e.ts) / 7) AS BIGINT) AS age_week,
                       CAST(sum(CAST(round(e.value * 100) AS BIGINT))
                            AS BIGINT) AS cents
                FROM events e JOIN first f ON e.user_id = f.user_id
                WHERE e.event_type = 'purchase'
                GROUP BY 1, 2),
              cum AS (
                SELECT cohort, age_week,
                       CAST(sum(cents) OVER (PARTITION BY cohort
                         ORDER BY age_week
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cum_cents
                FROM spend)
              SELECT c.cohort, c.age_week, s.n_users,
                     round(CAST(c.cum_cents AS DOUBLE) / 100
                           / s.n_users, 4) AS ltv_per_user
              FROM cum c JOIN sizes s ON c.cohort = s.cohort
              ORDER BY c.cohort, c.age_week"""),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative purchase value per user
    by weekly cohort and cohort-age week — the revenue companion to
    `cohort_retention` (retention counts who comes back; LTV says what
    they're worth by age).

    Exactness: purchase values snap to the cent grid per row (identical
    double→round on both engines), cumulative sums are BIGINT in a
    deterministically-ordered expanding frame, and the per-user ratio
    is one mirrored division.

    Scale: two grain-reducing shuffles (first-seen per user; (cohort,
    age) cells) — the join keys on user_id before aggregation, and the
    cumulative window partitions by cohort over the ≤
    weeks²-sized cell relation, never event rows."""
    ev = metric_events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    sizes = first.groupBy("cohort").agg(F.count("*").alias("n_users"))
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .groupBy(
            "cohort",
            F.floor(
                F.datediff(F.col("ts"), F.col("cohort")) / F.lit(7)
            )
            .cast("long")
            .alias("age_week"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = spend.withColumn("cum_cents", F.sum("cents").over(w))
    return (
        cum.join(sizes, "cohort")
        .select(
            "cohort",
            "age_week",
            "n_users",
            F.round(
                F.col("cum_cents").cast("double")
                / F.lit(100)
                / F.col("n_users"),
                4,
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort", "age_week")
    )
