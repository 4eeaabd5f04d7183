"""The telecom star schema (SURVEY.md §1.1, FIXTURES.md §A) built on the
driver test tables in the same roles: customer → dim_customers,
supplier → dim_agents (the small agents-like dim), orders → complaint-fact
source. Mirrors the reference's model graph — staging views → dims →
facts inner-joined to both dims projecting fact columns only
(dbt/coretelecom/models/facts/fact_call_logs.sql:3-16) — with the dims
broadcast so the fact side never shuffles.

DQ declarations mirror the reference's schema tests: unique+not_null keys
on dims and facts (dbt models/{facts,dimensions}/schema.yml).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from core_telecoms_etl_spark.plans.models import ModelRegistry
from core_telecoms_etl_spark.sources.readers import load_table

registry = ModelRegistry()


def build_star(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, DataFrame], ModelRegistry]:
    """Build the full star schema for one scale factor and return
    `(built, reg)`: every model by name, and the registry that declares
    the models' DQ checks (`reg.run_dq(built)`). Fresh registry per call
    so sf_dir binds cleanly."""
    reg = ModelRegistry()

    @reg.model("stg_customers")
    def stg_customers(spark: SparkSession, ref) -> DataFrame:
        return load_table(spark, sf_dir, "customer")

    @reg.model("stg_agents")
    def stg_agents(spark: SparkSession, ref) -> DataFrame:
        return load_table(spark, sf_dir, "supplier")

    @reg.model("stg_complaints")
    def stg_complaints(spark: SparkSession, ref) -> DataFrame:
        """Complaint-shaped fact source derived deterministically from
        orders; agent assignment is a stable modulo over the agent-dim
        cardinality (dense 0-based supplier keys)."""
        n_agents = ref("stg_agents").count()
        o = load_table(spark, sf_dir, "orders")
        return o.select(
            F.col("o_orderkey").alias("complaint_id"),
            F.col("o_custkey").alias("customer_id"),
            (F.col("o_orderkey") % n_agents).alias("agent_id"),
            F.col("o_orderpriority").alias("complaint_category"),
            F.col("o_orderstatus").alias("resolution_status"),
            F.col("o_orderdate").alias("request_date"),
            F.col("o_totalprice").alias("resolution_cost"),
        )

    @reg.model(
        "dim_customers",
        refs=["stg_customers"],
        materialized="table",
        not_null=["customer_id"],
        unique=["customer_id"],
    )
    def dim_customers(spark: SparkSession, ref) -> DataFrame:
        return ref("stg_customers").select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation_key"),
            F.col("c_acctbal").alias("account_balance"),
        )

    @reg.model(
        "dim_agents",
        refs=["stg_agents"],
        materialized="table",
        not_null=["agent_id"],
        unique=["agent_id"],
    )
    def dim_agents(spark: SparkSession, ref) -> DataFrame:
        return ref("stg_agents").select(
            F.col("s_suppkey").alias("agent_id"),
            F.col("s_name").alias("agent_name"),
            F.col("s_nationkey").alias("state_key"),
        )

    @reg.model(
        "fact_complaints",
        refs=["stg_complaints", "dim_customers", "dim_agents"],
        materialized="table",
        not_null=["complaint_id", "customer_id", "agent_id"],
        unique=["complaint_id"],
    )
    def fact_complaints(spark: SparkSession, ref) -> DataFrame:
        """Fact rows that survive both dim joins, fact columns only —
        the reference's join-as-filter shape; both dims broadcast."""
        fact = ref("stg_complaints")
        return (
            fact.join(
                F.broadcast(ref("dim_customers").select("customer_id")),
                "customer_id",
                "inner",
            )
            .join(
                F.broadcast(ref("dim_agents").select("agent_id")),
                "agent_id",
                "inner",
            )
            .select(
                "complaint_id",
                "customer_id",
                "agent_id",
                "complaint_category",
                "resolution_status",
                "request_date",
                "resolution_cost",
            )
        )

    return reg.build(spark), reg


def build_star_models(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    built, _ = build_star(spark, sf_dir)
    return built


def run_star_dq(spark: SparkSession, sf_dir: str):
    built, reg = build_star(spark, sf_dir)
    return reg.run_dq(built)
