package graftbench

import graft.sources.DimStore
import graft.streaming.WarehouseJob
import org.apache.spark.sql.SparkSession

import Harness._

/** `wh_stream`: `WarehouseJob` over the seeded ODS topic while one paced
  * dashboard thread re-aggregates the `stats/` partials with serving SQL.
  * The runner lands the files (open loop); this side only starts the query,
  * serves, drains and reads the outputs back for the checks.
  */
object WhStream {

  def servingSql(statsDir: String): String =
    s"""SELECT event_type, SUM(pv_ct) AS pv_ct, SUM(click_ct) AS click_ct,
       |  SUM(order_ct) AS order_ct, SUM(sv_ct) AS sv_ct, SUM(total_ct) AS total_ct
       |FROM parquet.`$statsDir` GROUP BY event_type""".stripMargin

  def run(spark: SparkSession, a: Args, trace: Option[Trace], out: Record): Unit = {
    val outDir = s"${a.runDir}/wh"
    val job = new WarehouseJob(spark, outDir)
    trace.foreach(_.watch(s"$outDir/dim"))
    val query = job.start(s"${a.runDir}/topics/ods_events", s"${a.runDir}/ckpt/wh")
    val sql = servingSql(s"$outDir/stats")
    val dash = new Dashboard(spark)(spark.sql(sql))
    warmUp(a.warmRounds)(query.processAllAvailable())
    spark.sql(sql).collect()
    ready()
    dash.start()
    drainPhases(query.processAllAvailable())
    dash.finish()
    query.stop()

    // off the clock: read every sink back for the output checks
    val serving = spark.sql(sql).collect().map { r =>
      new Record().str("event_type", r.getString(0)).num("pv_ct", r.getLong(1).toDouble)
        .num("click_ct", r.getLong(2).toDouble).num("order_ct", r.getLong(3).toDouble)
        .num("sv_ct", r.getLong(4).toDouble).num("total_ct", r.getLong(5).toDouble)
    }
    val facts = spark.read.parquet(s"$outDir/facts").groupBy("sink_table").count().collect()
      .foldLeft(new Record()) { (acc, r) => acc.num(r.getString(0), r.getLong(1).toDouble) }
    val dims = new DimStore(spark, s"$outDir/dim")
    Seq("dim_order", "dim_user").foreach { t =>
      dims.read(t).foreach(_.select("user_id", "ts", "value").coalesce(1)
        .write.parquet(s"${a.runDir}/results/$t"))
    }
    out.nums("serve_s", dash.times).nums("serve_files", dash.files).num("serve_failed", dash.failed)
      .rec("observed", new Record()
        .num("dirty", spark.read.parquet(s"$outDir/dirty").count().toDouble)
        .rec("facts", facts).recs("serving", serving))
  }
}
