package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's one set of harness helpers: full-plan execution, block
  * release between queries, wall timing, peak RSS, the stdin handshake with
  * the Python runner and the JSON result record.
  */
object Harness {

  /** Execute a query's full physical plan without collecting it: every
    * projection is evaluated, unlike `count()`, which Catalyst may prune.
    */
  def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Release `localCheckpoint`/persisted blocks a finished query left behind,
    * so they are not evicted inside the next query's timed window.
    */
  def releaseBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def now(): Double = System.nanoTime() / 1e9

  def epoch(): Double = System.currentTimeMillis() / 1e3

  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, now() - t0)
  }

  /** Files the scans of an executed query read (the scan nodes' `numFiles`
    * metric), looking through adaptive query stages.
    */
  def filesRead(df: DataFrame): Double = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum.toDouble
  }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Handshake with the runner: a line on stdout (`READY <epoch>` once
    * timing may begin), answered on stdin where the protocol needs it.
    */
  def say(line: String): Unit = { println(line); Console.flush() }

  def ready(): Unit = say(s"READY ${epoch()}")

  /** Streaming warm-up: process the first round (landed before start),
    * then ask the runner for each further round. `drain` processes
    * everything available.
    */
  def warmUp(rounds: Int)(drain: => Unit): Unit = {
    drain
    (1 until rounds).foreach { _ => say("WARM"); awaitLine("LANDED"); drain }
  }

  /** Streaming end of run: drain the open-loop phase, then for each
    * catch-up backlog report idle, let the runner land it, and drain it.
    * The runner ends the exchange with `DONE`.
    */
  def drainPhases(drain: => Unit): Unit = {
    awaitLine("DRAIN") // open-loop phase landed
    drain
    var line = ""
    while ({ say("IDLE"); line = scala.io.StdIn.readLine(); line == "DRAIN" }) drain
    require(line == "DONE", s"expected DRAIN or DONE from the runner, got '$line'")
  }

  def awaitLine(expected: String): Unit = {
    val line = scala.io.StdIn.readLine()
    require(line == expected, s"expected '$expected' from the runner, got '$line'")
  }

  /** Flat JSON record: numbers, strings, their lists and nested records. */
  final class Record {
    private val fields = mutable.LinkedHashMap[String, String]()
    def num(k: String, v: Double): this.type = { fields(k) = fmt(v); this }
    def str(k: String, v: String): this.type = { fields(k) = quote(v); this }
    def nums(k: String, vs: Iterable[Double]): this.type = {
      fields(k) = vs.map(fmt).mkString("[", ",", "]"); this
    }
    def strs(k: String, vs: Iterable[String]): this.type = {
      fields(k) = vs.map(quote).mkString("[", ",", "]"); this
    }
    def rec(k: String, r: Record): this.type = { fields(k) = r.json; this }
    def recs(k: String, rs: Iterable[Record]): this.type = {
      fields(k) = rs.map(_.json).mkString("[", ",", "]"); this
    }
    def json: String = fields.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def writeJson(path: String, r: Record): Unit =
    Files.write(Paths.get(path), (r.json + "\n").getBytes(UTF_8))

  /** Paced dashboard client: runs and collects `body` every `period` seconds
    * on its own thread until `finish`; a call that overruns delays the next
    * one (one client, one call in flight). Records each call's wall time.
    */
  final class Dashboard(spark: SparkSession, period: Double = 0.1)(body: => DataFrame)
      extends Thread("perfbench-dashboard") {
    @volatile private var stopped = false
    val times = mutable.ArrayBuffer[Double]()
    val files = mutable.ArrayBuffer[Double]()
    @volatile var failed = 0
    override def run(): Unit = {
      spark.sparkContext.setJobGroup("serve", "dashboard")
      var next = now()
      while (!stopped) {
        val wait = next - now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong)
        if (!stopped) {
          try {
            val (df, dt) = timed { val d = body; d.collect(); d }
            times += dt
            files += filesRead(df)
          }
          catch { case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] serving call failed: ${e.getMessage}")
          }
          next = math.max(next + period, now())
        }
      }
    }
    def finish(): Unit = { stopped = true; join() }
  }
}
