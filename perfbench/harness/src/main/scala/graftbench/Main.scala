package graftbench

import graft.GraftSession

import Harness._

/** Arguments the Python runner passes (`key=value`). */
final case class Args(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
  def workload: String = apply("workload")
  def runDir: String = apply("run_dir")
  def dataDir: String = apply("data_dir")
  def seed: Long = apply("seed").toLong
  def seconds: Double = apply("seconds").toDouble
  def traced: Boolean = apply("trace") == "1"
  def warmRounds: Int = apply("warm_rounds").toInt
}

/** Benchmark JVM entry point: `graftbench.Main key=value ...`. Sets up the
  * session with the program's defaults, runs one workload, writes
  * `<run_dir>/jvm.json` (raw samples and what the output checks compare)
  * and, when traced, the listener dumps next to it.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val out = new Record().str("workload", a.workload).rec("panel", BatchPanel.families)
    val (spark, createS) = timed(GraftSession.get())
    out.num("session_create_s", createS)
    if (a.traced) spark.conf.set("spark.graft.profileBatch", "true")
    val trace = if (a.traced) Some(new Trace(spark)) else None
    try {
      a.workload match {
        case "wh_stream"   => WhStream.run(spark, a, trace, out)
        case "dwm_chain"   => DwmChain.run(spark, a, trace, out)
        case "batch_panel" => BatchPanel.run(spark, a, trace, out)
        case w             => sys.error(s"unknown workload $w")
      }
      trace.foreach(_.dump(a.runDir))
    } finally {
      out.num("rss_peak_mb", rssPeakMb())
      writeJson(s"${a.runDir}/jvm.json", out)
      spark.stop()
    }
    println("DONE")
  }
}
