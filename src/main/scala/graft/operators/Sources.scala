package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Q._

/** Source/sink operators from SURVEY.md §2.1 exercised as end-to-end
  * round-trips (the reference's CSV pipeline and stage transport):
  *
  *  - q33: CSV sink → CSV source with declared schema + type coercion
  *    (S1/S2/S3; `scripts/02_generate_iceberg_data.py:332-335`,
  *    `scripts/03_load_iceberg_aws.py:178-198`).
  *  - q34: stage export/import — COPY a metadata inventory out to CSV and
  *    back, the schema-sync transport (S10,
  *    `scripts/33_schema_sync_task.sql:528-541`).
  *
  * Both write under [[graft.Driver.scratchRoot]] with a fresh subdir per
  * run. The written artifact is small (aggregates /
  * metadata) — the reference's stage files are metadata too; bulk data
  * never routes through the driver.
  */
object Sources {

  private def scratch(name: String): String =
    s"${graft.Driver.scratchRoot}/$name-${java.util.UUID.randomUUID().toString.take(8)}"

  val queries: Map[String, QFn] = Map(
    "q33_csv_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val out = scratch("csv-roundtrip")
      // sink: per-(flag, status) aggregate, written as header CSV
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), decSum($"l_quantity").as("qty"))
        .coalesce(1)
        .write.option("header", "true").mode("overwrite").csv(out)
      // source: read back with a DECLARED schema (string qty coerced to
      // double at read — the reference's CSV → typed-parquet coercion)
      val schema = StructType(Seq(
        StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType),
        StructField("n", LongType),
        StructField("qty", StringType)))
      s.read.option("header", "true").schema(schema).csv(out)
        .select($"l_returnflag", $"l_linestatus", $"n",
          $"qty".cast("double").as("qty"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // ORC sink → source: the columnar sibling format (Spark ships a native
    // vectorized ORC reader/writer next to parquet). Unlike the text legs,
    // ORC preserves types natively, so the roundtrip asserts lossless
    // column typing rather than declared-schema coercion. DuckDB cannot
    // read ORC — the oracle computes the same aggregate straight from the
    // parquet base table, which is exactly what makes this a roundtrip
    // proof: Spark's answer survived a write+read through the format.
    "q93_orc_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val out = scratch("orc-roundtrip")
      t(s, dir, "supplier")
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"), decCents($"s_acctbal").as("acctbal_cents"))
        .coalesce(1)
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .orderBy($"s_nationkey")
    },

    // JSON-lines sink → source with declared schema: the third format leg
    // (parquet native, CSV q33/q34). The reference carries JSON in its
    // event props (q24 extracts it); here structured rows round-trip
    // through JSON text losslessly — doubles survive because the aggregate
    // is decimal-exact BEFORE serialization and the declared read schema
    // restores exact types.
    "q37_json_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val out = scratch("json-roundtrip")
      t(s, dir, "orders")
        .groupBy($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("n"), decCents($"o_totalprice").as("total_c"))
        .coalesce(1)
        .write.mode("overwrite").json(out)
      s.read.schema(StructType(Seq(
          StructField("o_orderpriority", StringType),
          StructField("o_orderstatus", StringType),
          StructField("n", LongType),
          StructField("total_c", LongType))))
        .json(out)
        .orderBy($"o_orderpriority", $"o_orderstatus")
    },

    "q34_stage_transport" -> { (s, dir) =>
      import s.implicits._
      val stage = scratch("stage")
      // export: object inventory (name, type, definition hash) → stage CSV
      val inventory = t(s, dir, "part")
        .select(
          $"p_partkey".cast("string").as("object_name"),
          $"p_type".as("object_type"),
          sha2(concat_ws("|", $"p_name", $"p_brand"), 256).as("object_hash"))
      inventory.coalesce(1).write.option("header", "true").mode("overwrite").csv(stage)
      // import: read the staged metadata back and summarize per type
      s.read.option("header", "true")
        .schema(StructType(Seq(
          StructField("object_name", StringType),
          StructField("object_type", StringType),
          StructField("object_hash", StringType))))
        .csv(stage)
        .groupBy($"object_type")
        .agg(
          count(lit(1)).as("n_objects"),
          countDistinct($"object_hash").as("n_distinct_defs"),
          min($"object_name").as("first_object"))
        .orderBy($"object_type")
    })

  val oracle: Map[String, String] = Map(
    // the round-trip is lossless, so the oracle is the same aggregate
    // straight off the parquet
    "q33_csv_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q93_orc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS acctbal_cents
         FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",

    "q37_json_roundtrip" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_c
         FROM orders GROUP BY o_orderpriority, o_orderstatus
         ORDER BY o_orderpriority, o_orderstatus""",

    "q34_stage_transport" ->
      """SELECT p_type AS object_type, count(*) AS n_objects,
           count(DISTINCT sha256(p_name || '|' || p_brand)) AS n_distinct_defs,
           min(CAST(p_partkey AS VARCHAR)) AS first_object
         FROM part GROUP BY p_type ORDER BY object_type""")
}
