package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graftbench.Harness.Record

import java.io.{File, FileWriter}
import scala.collection.mutable

/** Traced-run recorder. A `SparkListener` keeps one record per job (group,
  * streaming query and batch, wall interval, stages, tasks, shuffle, spill
  * and input bytes) and the peak memory held by persisted/pinned RDD blocks;
  * a `StreamingQueryListener` keeps every `StreamingQueryProgress` as JSON.
  * Both are kept in memory and written out by `dump`. Only the traced run
  * registers it; the untraced run measures with no listener at all.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, StageAgg]()
  private val progress = mutable.ArrayBuffer[String]()
  private val blocks = mutable.HashMap[String, Long]()
  private var blockBytes = 0L
  private var blockPeak = 0L
  private val peakByGroup = mutable.HashMap[String, Long]()
  @volatile private var activeGroup = ""

  /** Marks the job group whose pinned-block peak is being tracked. */
  def group(g: String): Unit = synchronized {
    activeGroup = g
    blockPeak = blockBytes
  }

  def closeGroup(): Unit = synchronized {
    if (activeGroup.nonEmpty)
      peakByGroup(activeGroup) = peakByGroup.getOrElse(activeGroup, 0L).max(blockPeak)
    activeGroup = ""
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"), prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId"), e.time / 1e3, stages = e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time / 1e3)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val a = stages.getOrElseUpdate(i.stageId, StageAgg())
      a.tasks += i.numTasks
      Option(i.taskMetrics).foreach { m =>
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.runMs += m.executorRunTime
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        blockBytes += size - blocks.getOrElse(key, 0L)
        if (size == 0) blocks.remove(key) else blocks(key) = size
        blockPeak = blockPeak.max(blockBytes)
      }
    }
  }

  /** Directory whose writes are attributed per micro-batch: after each
    * progress event the tree is listed and the files new since the last
    * listing are summed (the listener runs asynchronously, so a batch's
    * late writes may count toward the next one).
    */
  @volatile private var watched: Option[File] = None
  private var lastListing = Map.empty[String, Long]
  private val dirDeltas = mutable.ArrayBuffer[Record]()
  def watch(dir: String): Unit = watched = Some(new File(dir))

  private def listing(f: File): Map[String, Long] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).flatMap(c => listing(c)).toMap
    else if (f.isFile) Map(s"${f.getPath}@${f.lastModified}" -> f.length)
    else Map.empty

  private def snapshot(batch: Long): Unit = watched.foreach { dir =>
    val now = listing(dir)
    val fresh = now.keySet -- lastListing.keySet
    val buckets = fresh.map(k => new File(k.takeWhile(_ != '@')).getParentFile.getPath)
    dirDeltas += new Record().num("batch", batch.toDouble).num("files", fresh.size)
      .num("dirs", buckets.size).num("bytes", fresh.toSeq.map(now).sum.toDouble)
      .num("total_bytes", now.values.sum.toDouble)
    lastListing = now
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        progress += e.progress.json.replace('\n', ' ')
        snapshot(e.progress.batchId)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Write `jobs.jsonl` (one line per job, its stages' sums folded in),
    * `progress.jsonl` and the per-group pinned-block peaks to `dir`.
    */
  def dump(dir: String): Unit = {
    // listener events are delivered asynchronously; let the bus drain
    Thread.sleep(500)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(listener)
    synchronized {
      closeGroup()
      val jw = new FileWriter(new File(dir, "jobs.jsonl"))
      try jobs.values.foreach { j =>
        val agg = j.stages.flatMap(stages.get)
        val r = new Record().num("job", j.id).str("group", j.group)
          .str("query", j.query).str("batch", j.batch).num("start", j.start).num("end", j.end)
          .num("stages", j.stages.size).num("tasks", agg.map(_.tasks).sum)
          .num("shuffle_read", agg.map(_.shuffleRead).sum).num("shuffle_write", agg.map(_.shuffleWrite).sum)
          .num("spill", agg.map(_.spill).sum).num("input", agg.map(_.input).sum)
          .num("run_ms", agg.map(_.runMs).sum)
        jw.write(r.json + "\n")
      } finally jw.close()
      val pw = new FileWriter(new File(dir, "progress.jsonl"))
      try progress.foreach(p => pw.write(p + "\n")) finally pw.close()
      val peaks = new Record()
      peakByGroup.foreach { case (g, v) => peaks.num(g, v.toDouble) }
      Harness.writeJson(s"$dir/pinned_peaks.json", peaks)
      val dw = new FileWriter(new File(dir, "dir_deltas.jsonl"))
      try dirDeltas.foreach(r => dw.write(r.json + "\n")) finally dw.close()
    }
  }
}

object Trace {
  final case class Job(id: Int, group: String, query: String, batch: String,
                       start: Double, var end: Double = Double.NaN,
                       stages: Seq[Int] = Nil)
  final case class StageAgg(var tasks: Long = 0, var shuffleRead: Long = 0,
                            var shuffleWrite: Long = 0, var spill: Long = 0,
                            var input: Long = 0, var runMs: Long = 0)
}
