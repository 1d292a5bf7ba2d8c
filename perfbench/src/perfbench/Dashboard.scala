package perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType
import graft.model.TableDefs

/** The fixed dashboard set a reader runs against the mirror: revenue
  * per customer, charge volume by day and status, subscription items by
  * status, and mirror customers joined to business customer/nation data
  * (generated at TPC-H sf0.1 cardinality). Tables are re-read from the
  * mirror directory on every run, as a reader after each commit would. */
object Dashboard {

  val Queries: Seq[(String, String)] = Seq(
    "revenue_per_customer" ->
      """SELECT c.id, c.email, SUM(i.amount_paid) AS revenue, COUNT(*) AS invoices
        |FROM invoices i JOIN customers c ON i.customer = c.id
        |WHERE i.status = 'paid'
        |GROUP BY c.id, c.email ORDER BY revenue DESC, c.id LIMIT 20""".stripMargin,
    "charges_by_day_status" ->
      """SELECT to_date(timestamp_seconds(created)) AS day, status,
        |       COUNT(*) AS n, SUM(amount) AS volume
        |FROM charges GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "items_by_status" ->
      """SELECT s.status, COUNT(*) AS items, SUM(si.quantity) AS seats
        |FROM subscription_items si JOIN subscriptions s ON si.subscription = s.id
        |WHERE NOT coalesce(si.deleted, false)
        |GROUP BY s.status ORDER BY s.status""".stripMargin,
    "customers_by_nation" ->
      """SELECT n.n_name, COUNT(*) AS customers, SUM(b.c_acctbal) AS acctbal
        |FROM customers c
        |JOIN biz_customer b
        |  ON CAST(get_json_object(c.metadata, '$.erp_custkey') AS BIGINT) = b.c_custkey
        |JOIN biz_nation n ON b.c_nationkey = n.n_nationkey
        |WHERE NOT coalesce(c.deleted, false)
        |GROUP BY n.n_name ORDER BY customers DESC, n.n_name""".stripMargin)

  val MirrorTables = Seq("customers", "invoices", "charges", "subscriptions",
    "subscription_items")

  private val BizCustomerSchema = StructType.fromDDL(
    "c_custkey BIGINT, c_name STRING, c_nationkey BIGINT, c_acctbal BIGINT, c_mktsegment STRING")
  private val BizNationSchema = StructType.fromDDL(
    "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")

  /** Write the business tables, at set-up. */
  def writeBusinessData(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    Gen.bizCustomers(seed)
      .map(c => (c.custkey, c.name, c.nationkey, c.acctbal, c.segment))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/customer")
    (0 until Gen.BizNations).map(i => (i.toLong, f"NATION$i%02d", (i % 5).toLong))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/nation")
  }

  final case class Result(filesScanned: Long, bytesScanned: Long)

  /** Run the set once over the mirror at `mirrorDir`. */
  def run(spark: SparkSession, mirrorDir: String, bizDir: String): Result = {
    // the reader knows the mirror's declared schema, so no footer probe
    MirrorTables.foreach(t => spark.read.schema(TableDefs.byTable(t).schema)
      .parquet(s"$mirrorDir/$t").createOrReplaceTempView(t))
    spark.read.schema(BizCustomerSchema).parquet(s"$bizDir/customer")
      .createOrReplaceTempView("biz_customer")
    spark.read.schema(BizNationSchema).parquet(s"$bizDir/nation")
      .createOrReplaceTempView("biz_nation")
    Queries.map { case (_, sql) =>
      val df = spark.sql(sql)
      df.collect()
      val scans = Scans.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
      def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      Result(scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum)
    }.reduce((a, b) => Result(a.filesScanned + b.filesScanned, a.bytesScanned + b.bytesScanned))
  }

  private object Scans extends AdaptiveSparkPlanHelper
}
