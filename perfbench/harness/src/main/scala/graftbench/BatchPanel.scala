package graftbench

import graft.{SparkEntry, Tables}
import graft.operators.Serving
import graft.streaming.{OrderWideJob, PaymentWideJob}
import org.apache.spark.sql.SparkSession

import Harness._

/** `batch_panel`: one closed-loop client makes one timed pass over a fixed
  * panel of registry queries on a static dataset (seeded query order), then
  * issues the three serving SQL calls round-robin until the run ends, at
  * least `MinServe` of them. Read-only: no streaming query runs.
  */
object BatchPanel {

  val MinServe = 30

  /** Warehouse and serving queries: a subset of the registry's 46-query
    * headline set (`Bench`), p8 included, plus the batch DWM chain.
    */
  val Olap: Seq[String] = Seq(
    "q1_pricing_summary", "q5_region_revenue", "a3_province_stats", "j3_dim_enrich",
    "p8_explode_json", "sql_gmv_serving", "dwm_wide_batch")

  /** Dedup/ANN/text queries of the headline set plus the heavy, iterative
    * `dedup_clusters` (`localCheckpoint`-pinned).
    */
  val Corpus: Seq[String] = Seq(
    "dedup_minhash_lsh", "ann_ivf_topk", "text_ngram_freq", "dedup_clusters")

  /** The panel's families, as the runner reads them from `jvm.json`. */
  def families: Record = new Record().strs("olap", Olap).strs("corpus", Corpus)

  /** The DWM chain in batch form: `PaymentWideJob.transform` over
    * `OrderWideJob.transform`, the code the streaming jobs run per batch.
    */
  def dwmWideBatch(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val ow = new OrderWideJob(spark, dir)
    val pw = new PaymentWideJob(spark, dir)
    pw.transform(Tables.table(spark, dir, "payments"),
      ow.transform(Tables.orders(spark, dir), Tables.lineitem(spark, dir),
        Tables.customer(spark, dir), Tables.nation(spark, dir)))
  }

  def query(q: String): (SparkSession, String) => org.apache.spark.sql.DataFrame =
    if (q == "dwm_wide_batch") dwmWideBatch else SparkEntry.queries(q)

  val ServingCalls: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "gmv_by_brand" -> ((s, d) => Serving.sqlGmvByBrand(s, d)),
    "keyword_native" -> ((s, d) => Serving.sqlKeywordNative(s, d)),
    "keyword_lateral_view" -> ((s, d) => Serving.sqlKeywordLateralView(s, d)))

  /** Every third panel query, offset by the seed: the ones whose results a
    * run checks against their oracles.
    */
  def checkedQueries(seed: Long): Seq[String] =
    (Olap ++ Corpus).zipWithIndex.collect { case (q, i) if i % 3 == Math.floorMod(seed, 3L) => q }

  def family(q: String): String = if (Olap.contains(q)) "olap" else "corpus"

  def run(spark: SparkSession, a: Args, trace: Option[Trace], out: Record): Unit = {
    val dir = a.dataDir
    val rng = new scala.util.Random(a.seed)
    val runs = scala.collection.mutable.ArrayBuffer[Record]()
    /** One panel query (its full plan, or written to `save` when given); its
      * wall time, or NaN when it threw.
      */
    def runQuery(q: String, save: Option[String] = None): Double = {
      spark.sparkContext.setJobGroup(s"q:$q", q)
      trace.foreach(_.group(family(q)))
      val start = epoch()
      val dt =
        try timed {
          val df = query(q)(spark, dir)
          save.fold(exec(df))(p => { df.write.parquet(s"$p/$q"); 0L })
        }._2
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
          Double.NaN
        } finally {
          trace.foreach(_.closeGroup())
          spark.sparkContext.clearJobGroup()
          releaseBlocks(spark)
        }
      runs += new Record().str("q", q).num("start", start).num("wall", dt)
      dt
    }
    // warm-up, inside setup: one pass, in which the checked third of the
    // panel writes its results for the runner's oracle checks, and one
    // serving round
    val results = s"${a.runDir}/results"
    val checked = checkedQueries(a.seed)
    (Olap ++ Corpus).foreach(q => runQuery(q, Some(results).filter(_ => checked.contains(q))))
    writeJson(s"$results/oracle_sql.json",
      checked.foldLeft(new Record())((r, q) => SparkEntry.oracleSql.get(q).fold(r)(r.str(q, _))))
    ServingCalls.foreach { case (_, f) => f(spark, dir).collect() }
    ready()
    runs.clear()

    val end = now() + a.seconds
    rng.shuffle(Olap ++ Corpus).foreach(q => runQuery(q))

    val serve = Seq.newBuilder[Double]
    val serveFiles = Seq.newBuilder[Double]
    var failed = 0
    var i = 0
    while (i < MinServe || now() < end) {
      val (name, f) = ServingCalls(i % ServingCalls.size)
      spark.sparkContext.setJobGroup(s"serve:$name", name)
      try {
        val (df, dt) = timed { val d = f(spark, dir); d.collect(); d }
        serve += dt
        serveFiles += filesRead(df)
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] serving $name failed: ${e.getMessage}")
      }
      spark.sparkContext.clearJobGroup()
      i += 1
    }
    out.recs("query_runs", runs).strs("checked", checked)
      .nums("serve_s", serve.result()).nums("serve_files", serveFiles.result())
      .num("serve_failed", failed)
  }
}
