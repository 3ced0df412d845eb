"""Two-source heterogeneous conformance — the reference's defining
end-to-end feature: two differently-shaped all-string feeds conformed
into one model.

Reference shapes (cited for parity, not copied):

- consumer feed (``SRC_CONSUMER/consumer.sql:17-49``): person-flavored
  columns — Customer_Nr, Customer_Name, Gender, Age_Group, Segment.
- corporate feed (``SRC_CORPORATE/corporate.sql:17-49``): org-flavored
  columns — Customer_ID, Tax_Number, Sector, Contact_Person, Segment
  (no name/gender/age).
- conformance (``BL_CL/bl_cl.sql:218-226`` id cleaning,
  ``bl_cl.sql:898-938`` superset-with-'NA'-defaults merge sources,
  upper-cased segment lookups ``bl_cl.sql:936-938``).

Here the two feeds are staged from two genuinely different base
tables — ``customer`` (consumer shape) and ``supplier`` (corporate
shape, playing the org-party role) — NOT parity-splits of one table,
so the query really ingests two distinct input schemas. All columns
are staged as strings (the reference's VARCHAR(255) staging), the
corporate id carries a ``#``-suffix dirt pattern cleaned exactly like
``Product_ID`` (bl_cl.sql:218-223), each side is conformed to the
superset schema with 'NA' defaults for the columns it lacks, segment
ids resolve via an upper-cased broadcast lookup, and the two sides
full-outer-merge on the cleaned party number (J3).

Scale: feeds are narrow projections of their scans; the segment dim
is tiny → broadcast; the only shuffle is the full-outer merge on the
conformed key — the minimal shape for heterogeneous entity
resolution at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_superstore_data_warehouse_spark.catalog import load
from global_superstore_data_warehouse_spark.operators.graph import connected_components
from global_superstore_data_warehouse_spark.operators.hints import spread_scan
from global_superstore_data_warehouse_spark.operators.keys import add_surrogate_key

NA = "NA"


def _consumer_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-string consumer-shaped staging rows (consumer.sql:17-49):
    person attributes, clean ids, mixed-case segment."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").cast("string").alias("customer_nr"),
        F.col("c_name").alias("customer_name"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit("Female"))
        .otherwise(F.lit("Male"))
        .alias("gender"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("18-30"))
        .when(F.col("c_custkey") % 3 == 1, F.lit("31-50"))
        .otherwise(F.lit("51+"))
        .alias("age_group"),
        F.lower("c_mktsegment").alias("segment"),
    )


def _corporate_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-string corporate-shaped staging rows (corporate.sql:17-49):
    org attributes, ids dirtied with a '#' suffix on every 5th row
    (the Product_ID dirt pattern the reference cleans,
    bl_cl.sql:218-223)."""
    s = load(spark, sf_dir, "supplier")
    return s.select(
        F.concat(
            F.col("s_suppkey").cast("string"),
            F.when(F.col("s_suppkey") % 5 == 0, F.lit("#DUP")).otherwise(F.lit("")),
        ).alias("customer_id"),
        F.concat(F.lit("TAX-"), (F.col("s_suppkey") * 7).cast("string")).alias(
            "tax_number"
        ),
        F.concat(F.lit("SECTOR_"), (F.col("s_nationkey") % 4).cast("string")).alias(
            "sector"
        ),
        F.col("s_name").alias("contact_person"),
        F.lit("corporate").alias("segment"),
    )


def conform_two_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conform the two heterogeneous feeds into one party model.

    Steps (each cited to the reference behavior it re-expresses):
    1. clean the corporate id — strip from '#' (bl_cl.sql:218-223);
    2. build the segment dim from the distinct upper-cased segments
       of BOTH feeds (d_segments-style union, bl_cl.sql:236-258);
    3. conform each feed to the superset schema, defaulting the
       columns its shape lacks to 'NA' (bl_cl.sql:898-938);
    4. resolve segment ids via an upper-cased broadcast lookup
       (``ON UPPER(seg.segment) = UPPER(src.segment)``,
       bl_cl.sql:936-938);
    5. full-outer-merge the conformed sides on the party number,
       coalescing shared columns (J3, merged-entity style).
    """
    cons = _consumer_feed(spark, sf_dir)
    corp = _corporate_feed(spark, sf_dir).withColumn(
        "party_nr",
        F.when(
            F.instr("customer_id", "#") > 0,
            F.expr("substring(customer_id, 1, instr(customer_id, '#') - 1)"),
        ).otherwise(F.col("customer_id")),
    )

    segments = add_surrogate_key(
        cons.select(F.upper("segment").alias("segment"))
        .unionByName(corp.select(F.upper("segment").alias("segment")))
        .dropDuplicates(["segment"]),
        ["segment"],
        name="segment_id",
    )

    conf_cons = cons.join(
        F.broadcast(segments),
        F.upper(cons.segment) == segments.segment,
        "left",
    ).select(
        F.col("customer_nr").alias("party_nr"),
        F.col("customer_name").alias("party_name"),
        "gender",
        "age_group",
        F.lit(NA).alias("tax_number"),
        F.lit(NA).alias("sector"),
        F.lit(NA).alias("contact_person"),
        segments.segment.alias("segment"),
        F.coalesce("segment_id", F.lit(-1)).alias("segment_id"),
    )
    conf_corp = corp.join(
        F.broadcast(segments),
        F.upper(corp.segment) == segments.segment,
        "left",
    ).select(
        "party_nr",
        F.lit(NA).alias("party_name"),
        F.lit(NA).alias("gender"),
        F.lit(NA).alias("age_group"),
        "tax_number",
        "sector",
        "contact_person",
        segments.segment.alias("segment"),
        F.coalesce("segment_id", F.lit(-1)).alias("segment_id"),
    )

    a, b = conf_cons.alias("a"), conf_corp.alias("b")
    merged = a.join(b, F.col("a.party_nr") == F.col("b.party_nr"), "full_outer")
    return merged.select(
        F.coalesce("a.party_nr", "b.party_nr").alias("party_nr"),
        F.coalesce("a.party_name", F.lit(NA)).alias("party_name"),
        F.coalesce("a.gender", F.lit(NA)).alias("gender"),
        F.coalesce("a.age_group", F.lit(NA)).alias("age_group"),
        F.coalesce("b.tax_number", F.lit(NA)).alias("tax_number"),
        F.coalesce("b.sector", F.lit(NA)).alias("sector"),
        F.coalesce("b.contact_person", F.lit(NA)).alias("contact_person"),
        F.coalesce("a.segment", "b.segment").alias("segment"),
        F.coalesce("a.segment_id", "b.segment_id").alias("segment_id"),
        F.col("a.party_nr").isNotNull().alias("in_consumer"),
        F.col("b.party_nr").isNotNull().alias("in_corporate"),
    )


CONFORM_TWO_SOURCES_ORACLE = """
    WITH cons AS (
        SELECT CAST(c_custkey AS VARCHAR) AS customer_nr,
               c_name AS customer_name,
               CASE WHEN c_custkey % 2 = 0 THEN 'Female' ELSE 'Male' END AS gender,
               CASE WHEN c_custkey % 3 = 0 THEN '18-30'
                    WHEN c_custkey % 3 = 1 THEN '31-50'
                    ELSE '51+' END AS age_group,
               LOWER(c_mktsegment) AS segment
        FROM customer
    ), corp AS (
        SELECT CAST(s_suppkey AS VARCHAR)
                 || CASE WHEN s_suppkey % 5 = 0 THEN '#DUP' ELSE '' END AS customer_id,
               'TAX-' || CAST(s_suppkey * 7 AS VARCHAR) AS tax_number,
               'SECTOR_' || CAST(s_nationkey % 4 AS VARCHAR) AS sector,
               s_name AS contact_person,
               'corporate' AS segment
        FROM supplier
    ), corp_clean AS (
        SELECT *,
               CASE WHEN POSITION('#' IN customer_id) > 0
                    THEN SUBSTRING(customer_id, 1, POSITION('#' IN customer_id) - 1)
                    ELSE customer_id END AS party_nr
        FROM corp
    ), segments AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY segment) AS BIGINT) AS segment_id,
               segment
        FROM (SELECT DISTINCT UPPER(segment) AS segment FROM cons
              UNION SELECT DISTINCT UPPER(segment) FROM corp_clean)
    ), conf_cons AS (
        SELECT c.customer_nr AS party_nr, c.customer_name AS party_name,
               c.gender, c.age_group,
               'NA' AS tax_number, 'NA' AS sector, 'NA' AS contact_person,
               s.segment, COALESCE(s.segment_id, -1) AS segment_id
        FROM cons c LEFT JOIN segments s ON UPPER(c.segment) = s.segment
    ), conf_corp AS (
        SELECT c.party_nr, 'NA' AS party_name, 'NA' AS gender, 'NA' AS age_group,
               c.tax_number, c.sector, c.contact_person,
               s.segment, COALESCE(s.segment_id, -1) AS segment_id
        FROM corp_clean c LEFT JOIN segments s ON UPPER(c.segment) = s.segment
    )
    SELECT COALESCE(a.party_nr, b.party_nr) AS party_nr,
           COALESCE(a.party_name, 'NA') AS party_name,
           COALESCE(a.gender, 'NA') AS gender,
           COALESCE(a.age_group, 'NA') AS age_group,
           COALESCE(b.tax_number, 'NA') AS tax_number,
           COALESCE(b.sector, 'NA') AS sector,
           COALESCE(b.contact_person, 'NA') AS contact_person,
           COALESCE(a.segment, b.segment) AS segment,
           COALESCE(a.segment_id, b.segment_id) AS segment_id,
           a.party_nr IS NOT NULL AS in_consumer,
           b.party_nr IS NOT NULL AS in_corporate
    FROM conf_cons a FULL OUTER JOIN conf_corp b ON a.party_nr = b.party_nr
"""


# --- per-attribute survivorship (golden record) ----------------------

def golden_record_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ATTRIBUTE survivorship merge — the MDM "golden record"
    step that follows two-source conformance: when several systems
    hold the same party, each attribute of the golden row is taken
    from the highest-priority system that actually HAS it (non-NULL),
    not wholesale from one winning row. The reference resolves
    cross-source conflicts row-at-a-time with COALESCE precedence
    (bl_cl.sql:898-938); this is the same precedence rule lifted to
    attribute grain.

    Two deterministic system feeds are derived from ``customer``:
    CRM (priority 2) covers every party but drops the segment for
    every third key and never has a balance; BILLING (priority 1)
    covers only even keys, is authoritative for segment/balance, and
    has no name. The expected golden row is therefore a genuine
    per-attribute mix of both systems.

    Plan: union the narrow feeds and run ONE groupBy(custkey) whose
    per-attribute pick is ``max_by(attr, CASE WHEN attr IS NOT NULL
    THEN -priority END)`` — aggregate-side survivorship, no window,
    no self-join; a single shuffle on the party key with map-side
    partial aggregation. Ties are impossible (each system contributes
    at most one row per key), so the pick is deterministic under any
    partitioning. At 100 TB this is the only shape that survives:
    per-attribute windows would re-sort the union once per attribute.
    """
    c = load(spark, sf_dir, "customer")
    crm = c.select(
        F.col("c_custkey").alias("custkey"),
        F.lit(2).alias("prio"),
        F.col("c_name").alias("name"),
        F.when(F.col("c_custkey") % 3 != 0, F.lower("c_mktsegment")).alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
        F.lit(None).cast("double").alias("acctbal"),
    )
    billing = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.lit(1).alias("prio"),
        F.lit(None).cast("string").alias("name"),
        F.upper("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )

    def pick(attr: str) -> F.Column:
        return F.max_by(
            attr, F.when(F.col(attr).isNotNull(), -F.col("prio"))
        ).alias(attr)

    return (
        crm.unionByName(billing)
        .groupBy("custkey")
        .agg(
            pick("name"),
            pick("segment"),
            pick("nationkey"),
            F.round(pick("acctbal"), 2).alias("acctbal"),
            F.count("*").cast("int").alias("n_sources"),
        )
    )


GOLDEN_RECORD_CUSTOMERS_ORACLE = """
    WITH crm AS (
        SELECT c_custkey AS custkey, 2 AS prio, c_name AS name,
               CASE WHEN c_custkey % 3 <> 0 THEN LOWER(c_mktsegment) END AS segment,
               c_nationkey AS nationkey, CAST(NULL AS DOUBLE) AS acctbal
        FROM customer
    ), billing AS (
        SELECT c_custkey AS custkey, 1 AS prio, CAST(NULL AS VARCHAR) AS name,
               UPPER(c_mktsegment) AS segment, c_nationkey AS nationkey,
               CAST(c_acctbal AS DOUBLE) AS acctbal
        FROM customer WHERE c_custkey % 2 = 0
    ), u AS (
        SELECT * FROM crm UNION ALL SELECT * FROM billing
    )
    SELECT custkey,
           arg_max(name, CASE WHEN name IS NOT NULL THEN -prio END) AS name,
           arg_max(segment, CASE WHEN segment IS NOT NULL THEN -prio END) AS segment,
           arg_max(nationkey, CASE WHEN nationkey IS NOT NULL THEN -prio END)
               AS nationkey,
           ROUND(arg_max(acctbal, CASE WHEN acctbal IS NOT NULL THEN -prio END), 2)
               AS acctbal,
           CAST(COUNT(*) AS INTEGER) AS n_sources
    FROM u
    GROUP BY custkey
"""


# --- schema-evolution union -------------------------------------------


def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union two feed VERSIONS of the orders table where v2 added a
    column (o_orderpriority) that v1 never carried — the
    schema-evolution read every long-lived warehouse does daily.
    v1 rows surface the evolved column as NULL via
    ``unionByName(allowMissingColumns=True)``; the result reports the
    evolved column's fill rate per feed version so the gap is
    visible, not silent.

    The version split is deterministic (even/odd order key) so the
    oracle reproduces it; in production the versions are different
    file batches. Scale shape: two projections of one scan + a
    by-name union (no shuffle) + a versions-sized aggregate.
    """
    orders = load(spark, sf_dir, "orders")
    v1 = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("feed_version", F.lit("v1"))
    )
    v2 = (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .withColumn("feed_version", F.lit("v2"))
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy("feed_version").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_orderpriority").isNotNull().cast("long")).alias(
            "n_with_priority"
        ),
        F.round(
            F.avg(F.col("o_orderpriority").isNotNull().cast("double")), 6
        ).alias("priority_fill_rate"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


SCHEMA_EVOLUTION_UNION_ORACLE = """
    WITH unioned AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_orderpriority, 'v1' AS feed_version
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice,
               o_orderpriority, 'v2' AS feed_version
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT feed_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_priority,
           ROUND(AVG(CASE WHEN o_orderpriority IS NOT NULL
                          THEN 1.0 ELSE 0.0 END), 6) AS priority_fill_rate,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM unioned
    GROUP BY feed_version
"""


# --- end-to-end entity resolution -------------------------------------


def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ER pipeline in ONE composed plan — the workload the
    repo's matching/clustering/survivorship operators exist for:

    1. CANDIDATES: FastSS deletion-neighborhood self-match over every
       customer name (edit distance <= 1; complete by theorem — see
       ``plans/cleansing.fuzzy_match_fastss``), id_a < id_b.
    2. MATCH RULE: fuzzy name agreement alone is NOT a match — the
       pair must also agree on nation and market segment
       (multi-attribute agreement, the Fellegi-Sunter-style
       conjunction every production linker uses). On near-sequential
       id-derived names a lone edit-distance rule is transitively
       degenerate (every consecutive pair is one substitution apart
       and CC collapses the corpus to one entity — measured, not
       hypothetical); the attribute conjunction is what makes the
       clusters meaningful.
    3. ENTITIES: connected components over the match pairs
       (``operators/graph.connected_components`` — the same
       min-contraction operator as the dedup endgame); unmatched
       customers attach as their own singleton entity.
    4. SURVIVORSHIP: one groupBy(entity) — member count, the
       canonical member's name (min custkey, the same canonical-id
       convention as dedup_clusters), pooled balance.

    Scale shape: variant explode is zero-shuffle; the variant
    equi-join carries (id, name, nation, segment) only; CC levels
    run on the match-pair edge set (tiny relative to the corpus —
    matches, not candidates); the final aggregate is one shuffle on
    entity id. No stage is all-pairs.
    """
    cust = load(spark, sf_dir, "customer")
    # spread the single-split scan before the zero-shuffle variant
    # explode: generation + the Levenshtein verify otherwise run in
    # ONE task (measured 2.3 s single-task at sf0.1); no-op once the
    # table splits on its own (guide §2.5)
    names = spread_scan(cust, sf_dir, "customer", by="c_custkey").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )

    name = F.col("c_name")
    variants = names.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.length(name)),
                lambda i: F.when(i == 0, name).otherwise(
                    F.concat(
                        name.substr(F.lit(1), i - 1),
                        name.substr(i + 1, F.length(name)),
                    )
                ),
            )
        ).alias("variant"),
    )
    va = variants.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        "variant",
    )
    vb = variants.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        "variant",
    )
    pairs = (
        va.join(vb, "variant")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("nat_a") == F.col("nat_b"))
            & (F.col("seg_a") == F.col("seg_b"))
        )
        .select("id_a", "name_a", "id_b", "name_b")
        .distinct()
        # thresholded verify: banded DP early-exits the non-matches;
        # survivors keep the identical <=1 semantics
        .filter(F.levenshtein("name_a", "name_b", threshold=1) >= 0)
        .select("id_a", "id_b")
    )

    labels = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("node").alias("c_custkey"), F.col("component").alias("entity_id")
    )
    # singleton pass fused into ONE left join (round-14, same rewrite
    # as dedup_clusters): labels covers exactly the matched
    # customers, so coalesce(entity_id, c_custkey) is row-identical
    # to the old anti-join + union — and the survivorship groupBy
    # consumes the join directly
    return (
        cust.join(labels, "c_custkey", "left")
        .withColumn("entity_id", F.coalesce("entity_id", F.col("c_custkey")))
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min_by("c_name", "c_custkey").alias("canonical_name"),
            F.round(F.sum("c_acctbal"), 2).alias("pooled_acctbal"),
        )
    )


ENTITY_RESOLUTION_CUSTOMERS_ORACLE = """
    WITH RECURSIVE pairs AS (
        SELECT a.c_custkey AS src, b.c_custkey AS dst
        FROM customer a JOIN customer b
          ON a.c_custkey < b.c_custkey
         AND a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    ), sym AS (
        SELECT src, dst FROM pairs
        UNION ALL
        SELECT dst, src FROM pairs
    ), reach(n, r) AS (
        SELECT c_custkey, c_custkey FROM customer
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.n
    ), labels AS (
        SELECT n AS c_custkey, MIN(r) AS entity_id FROM reach GROUP BY n
    )
    SELECT l.entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           arg_min(c.c_name, c.c_custkey) AS canonical_name,
           ROUND(SUM(c.c_acctbal), 2) AS pooled_acctbal
    FROM customer c JOIN labels l USING (c_custkey)
    GROUP BY l.entity_id
"""
