package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.model.TableDefs
import graft.streaming.WebhookPipeline

/** End-to-end drive of the sync engine's public surface: stream the
  * golden webhook fixture corpus through the Structured Streaming
  * pipeline, then query the synced mirror with Spark SQL (the analytics
  * layer the reference delegates to Postgres).
  *
  * Run: sbt "runMain graft.tools.PipelineDemo"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val fixtureDir = if (args.nonEmpty) args(0)
      else "/root/reference/packages/fastify-app/src/test/stripe"
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")

    val tablesDir = Files.createTempDirectory("graft_demo_tables").toString
    val inDir = Files.createTempDirectory("graft_demo_in").toString

    // one file per webhook delivery, one JSON per line (S1 file-drop source)
    val fixtures = Files.list(Paths.get(fixtureDir)).iterator().asScala
      .filter(_.toString.endsWith(".json"))
      .map(p => new String(Files.readAllBytes(p)).replaceAll("\n", " "))
      .toSeq
    Files.write(Paths.get(s"$inDir/events.jsonl"),
      fixtures.mkString("\n").getBytes)

    val pipeline = new WebhookPipeline(tablesDir)
    val q = pipeline.start(spark, inDir,
      Files.createTempDirectory("graft_demo_ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    println(s"== ingested ${fixtures.size} webhook events into $tablesDir")
    TableDefs.active.foreach { t =>
      val df = graft.store.Store.read(spark, s"$tablesDir/${t.table}").getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema))
      println(f"  ${t.table}%-28s ${df.count()}%4d rows")
      df.createOrReplaceTempView(t.table)
    }

    // the consumer-side analytics surface (SURVEY §2.9 / README.md:16-20)
    println("== analytics over the mirror:")
    spark.sql(
      """SELECT c.id AS customer, count(i.id) AS invoices,
        |       sum(i.amount_paid) AS paid
        |FROM customers c LEFT JOIN invoices i ON i.customer = c.id
        |GROUP BY c.id ORDER BY customer""".stripMargin).show(10, false)
    spark.stop()
  }
}
