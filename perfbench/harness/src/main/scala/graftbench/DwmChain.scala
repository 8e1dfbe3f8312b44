package graftbench

import graft.Tables
import graft.streaming.{OrderWideJob, PaymentWideJob}
import org.apache.spark.sql.SparkSession

import Harness._

/** `dwm_chain`: `OrderWideJob` feeding `PaymentWideJob` over the seeded
  * orders/lineitem/payments topics, enriched from the static customer and
  * nation tables, with one paced dashboard reading the `payment_wide` sink.
  */
object DwmChain {

  def servingSql(sinkDir: String): String =
    s"""SELECT n_name, COUNT(*) AS n, SUM(pay_amount) AS amount
       |FROM parquet.`$sinkDir` GROUP BY n_name""".stripMargin

  def run(spark: SparkSession, a: Args, trace: Option[Trace], out: Record): Unit = {
    val topics = s"${a.runDir}/topics"
    val dwm = s"${a.runDir}/dwm"
    val ow = new OrderWideJob(spark, dwm)
    val pw = new PaymentWideJob(spark, dwm)
    val owq = ow.start(s"$topics/orders", s"$topics/lineitem", a.dataDir, s"${a.runDir}/ckpt/ow")
    owq.processAllAvailable() // warm-up ticks; creates the order_wide topic
    val pwq = pw.start(s"$topics/payments", "order_wide", s"${a.runDir}/ckpt/pw")
    pwq.processAllAvailable()
    val sql = servingSql(s"$dwm/payment_wide")
    spark.sql(sql).collect()
    val dash = new Dashboard(spark)(spark.sql(sql))
    ready()
    dash.start()
    drainPhases { owq.processAllAvailable(); pwq.processAllAvailable() }
    dash.finish()
    def late(q: org.apache.spark.sql.streaming.StreamingQuery): Double =
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble
    val (owLate, pwLate) = (late(owq), late(pwq))
    owq.stop()
    pwq.stop()

    // off the clock: the sink must be multiset-equal to the batch transforms
    // over the same files
    def topic(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).parquet(s"$topics/$name")
    val expected = pw.transform(topic("payments", pw.paymentSchema),
      ow.transform(topic("orders", ow.ordersSchema), topic("lineitem", ow.lineitemSchema),
        Tables.customer(spark, a.dataDir), Tables.nation(spark, a.dataDir)))
    val sink = spark.read.parquet(s"$dwm/payment_wide").select(expected.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    out.nums("serve_s", dash.times).nums("serve_files", dash.files).num("serve_failed", dash.failed)
      .rec("observed", new Record()
        .num("sink_rows", sink.count().toDouble).num("expected_rows", expected.count().toDouble)
        .num("missing", expected.exceptAll(sink).count().toDouble)
        .num("extra", sink.exceptAll(expected).count().toDouble)
        .num("ow_late_rows", owLate).num("pw_late_rows", pwLate))
  }
}
