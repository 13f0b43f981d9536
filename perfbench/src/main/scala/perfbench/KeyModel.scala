package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.datagen.AdDataGenerator

/** The ad-funnel impressions the workloads write to. */
object AdData {
  val Campaigns = 50

  /** Impressions from [[AdDataGenerator]] at `seed`, cost as
    * DECIMAL(12,2) like the engine's own base tables. Every campaign is
    * made active, so each one gets impressions: the generator otherwise
    * keeps about half of them, which makes the table's size swing by
    * ±15 % from seed to seed; this way only the per-campaign draw varies
    * it (±5 %). Expect about 1.25 × `perCampaign` rows per campaign. */
  def impressions(spark: SparkSession, seed: Long, perCampaign: Int): DataFrame = {
    val gen = new AdDataGenerator(spark, seed)
    gen.impressions(gen.campaigns(Campaigns).withColumn("status", lit("active")), perCampaign)
      .withColumn("cost_usd", col("cost_usd").cast(DecimalType(12, 2)))
  }

  /** An analyst view in the shape of the reference's MV_IMPRESSIONS_DAILY;
    * `impressions` names the base table as the view text sees it. */
  def impressionsDaily(impressions: String): String =
    s"""SELECT campaign_id, date_key, geo_region, device_type,
       |       COUNT(*) AS impression_count,
       |       CAST(SUM(CASE WHEN viewable THEN 1 ELSE 0 END) AS BIGINT) AS viewable_impressions,
       |       SUM(cost_usd) AS total_cost_usd,
       |       COUNT(DISTINCT publisher_id) AS unique_publishers
       |FROM $impressions
       |GROUP BY campaign_id, date_key, geo_region, device_type""".stripMargin
}

/** The benchmark's own copy of a keyed table (`impression_id` → row): the
  * answer every read-your-write and final check is compared with. Keys
  * are picked by a seeded random, so a seed fixes the whole statement
  * sequence. */
final class KeyModel(spark: SparkSession, val schema: StructType, initial: Array[Row], seed: Long) {
  val key = "impression_id"
  private val keyIdx = schema.fieldIndex(key)
  private val costIdx = schema.fieldIndex("cost_usd")
  private val rows = mutable.HashMap.empty[String, Row]
  private val keys = mutable.ArrayBuffer.empty[String]
  private val pos = mutable.HashMap.empty[String, Int]
  private val rnd = new scala.util.Random(seed)
  private var fresh = 0L
  initial.sortBy(_.getString(keyIdx)).foreach(put)
  require(rows.size == initial.length, "duplicate keys in the initial table")

  def put(r: Row): Unit = {
    val k = r.getString(keyIdx)
    if (!rows.contains(k)) { pos(k) = keys.size; keys += k }
    rows(k) = r
  }

  def remove(k: String): Unit = if (rows.remove(k).isDefined) {
    val i = pos.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; pos(last) = i }
  }

  def pickKey(): String = keys(rnd.nextInt(keys.size))

  /** The row at `k` with a new cost: what an upsert of that key writes. */
  def updated(k: String): Row = {
    val s = rows(k).toSeq.toArray
    s(costIdx) = java.math.BigDecimal.valueOf(rnd.nextInt(5000).toLong + 1, 2)
    Row.fromSeq(s.toSeq)
  }

  /** Copies of existing rows under keys the table has never held. */
  def newRows(n: Int): Seq[Row] = (0 until n).map { _ =>
    fresh += 1
    val s = rows(pickKey()).toSeq.toArray
    s(keyIdx) = f"IMP-N$fresh%09d"
    Row.fromSeq(s.toSeq)
  }

  def df(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)

  def keysDf(ks: Seq[String]): DataFrame = {
    import spark.implicits._
    ks.toDF(key)
  }

  def where(ks: Seq[String]) = col(key).isin(ks: _*)

  /** None when `got` holds exactly the model's rows for `ks`. */
  def checkRows(what: String, ks: Seq[String], got: Array[Row]): Option[String] = {
    val want = ks.flatMap(rows.get).map(_.toSeq).sortBy(_(keyIdx).toString)
    val have = got.toSeq.map(_.toSeq).sortBy(_(keyIdx).toString)
    if (want == have) None
    else Some(s"$what ${ks.mkString(",")}: expected ${want.map(_.mkString("|"))}, got ${have.map(_.mkString("|"))}")
  }

  /** Count, decimal cost sum and key-set hash of the model. */
  def summary: (Long, BigDecimal, Int) = summarize(rows.valuesIterator.map(r =>
    (r.getString(keyIdx), r.getDecimal(costIdx))))

  def summaryOf(table: DataFrame): (Long, BigDecimal, Int) =
    summarize(table.select(key, "cost_usd").collect().iterator.map(r =>
      (r.getString(0), r.getDecimal(1))))

  private def summarize(it: Iterator[(String, java.math.BigDecimal)]): (Long, BigDecimal, Int) = {
    var n = 0L
    var sum = BigDecimal(0)
    val ks = mutable.ArrayBuffer.empty[String]
    for ((k, c) <- it) { n += 1; sum += BigDecimal(c); ks += k }
    (n, sum, scala.util.hashing.MurmurHash3.unorderedHash(ks))
  }

  /** Per campaign: rows and cost sum, the aggregate MV's answer. */
  def byCampaign: Map[String, (Long, BigDecimal)] = {
    val ci = schema.fieldIndex("campaign_id")
    rows.values.groupBy(_.getString(ci)).map { case (c, rs) =>
      c -> (rs.size.toLong, rs.map(r => BigDecimal(r.getDecimal(costIdx))).sum)
    }
  }

  /** [[AdData.impressionsDaily]] over the model, one string per row. */
  def daily: Set[String] = {
    def f(n: String) = schema.fieldIndex(n)
    val (ci, di, gi, vi, ui, pi) =
      (f("campaign_id"), f("date_key"), f("geo_region"), f("device_type"), f("viewable"), f("publisher_id"))
    rows.values.groupBy(r => (r.getString(ci), r.getString(di), r.getString(gi), r.getString(vi)))
      .map { case ((c, d, g, v), rs) =>
        Seq(c, d, g, v, rs.size, rs.count(_.getBoolean(ui)),
          rs.map(r => BigDecimal(r.getDecimal(costIdx))).sum.bigDecimal.toPlainString,
          rs.map(_.getString(pi)).toSet.size).mkString("|")
      }.toSet
  }
}
