package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.sources.DimStore

/** Crash-window contracts of the bucketed dim store's staged upsert
  * (S8/ST8): the delete-then-swap publish leaves exactly two recoverable
  * windows, and both must be lossless —
  *
  *  - swap window: the staged write COMPLETED (`_tmp_upsert/_SUCCESS`
  *    present) and the crash landed between a destination bucket's delete
  *    and the move replacing it, so the bucket's only surviving copy lives
  *    in staging. `read()` must union the staging back in (non-mutating),
  *    and the next `upsert()` must first complete the pending swaps
  *    (`recoverStaged`) instead of deleting the staging — the round-12
  *    rendering deleted it, silently dropping every key not in the retry's
  *    batch.
  *  - write window: the crash landed MID staged write (no `_SUCCESS`), so
  *    no destination bucket was touched; dropping the partial staging is
  *    the correct recovery and the store is byte-identical to pre-batch.
  */
class DimStoreSpec extends SparkSpecBase {

  private def keySet(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("k").collect().map(_.getLong(0)).toSet

  /** Manufacture the swap window for bucket `b` of `table`: move the live
    * bucket dir into a fresh `_tmp_upsert` (as the completed staging's
    * output) and mark it `_SUCCESS` — the exact on-disk state after
    * `rmTreeF(dst)` succeeded and the move never ran.
    */
  private def makeSwapWindow(base: String, table: String, b: Int): Unit = {
    val tmp = Paths.get(s"$base/$table/_tmp_upsert")
    Files.createDirectories(tmp)
    Files.move(Paths.get(s"$base/$table/graft_bucket=$b"),
      tmp.resolve(s"graft_bucket=$b"), StandardCopyOption.ATOMIC_MOVE)
    Files.createFile(tmp.resolve("_SUCCESS"))
    ()
  }

  test("swap-window crash: read is lossless and the retry recovers the staged bucket") {
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_swap").toString
    val store = new DimStore(spark, base)
    // enough keys that every bucket is populated
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")

    // pick a bucket, stage the crash window there
    val buckets = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).map(_.getName)
    assert(buckets.length > 1)
    val victim = buckets.head.stripPrefix("graft_bucket=").toInt
    makeSwapWindow(base, "t", victim)

    // read during the window: every key still visible, exactly once
    val inWindow = store.read("t").get
    assert(keySet(inWindow) == (0L until 64L).toSet,
      "read in the swap window must union the completed staging back in")
    assert(inWindow.count() == 64, "no duplicate rows from the staging union")

    // the retry (a later batch touching OTHER keys' buckets) must first
    // complete the pending swap, not delete the staging
    store.upsert("t", Seq((1000L, 2L, "new")).toDF("k", "ts", "v"), "k", "ts")
    assert(!new java.io.File(s"$base/t/_tmp_upsert").exists(), "staging cleared after recovery")
    val after = store.read("t").get
    assert(keySet(after) == (0L until 64L).toSet + 1000L,
      "retry must recover the orphaned bucket's keys, not rebuild it from the batch alone")
    // versioned convergence still holds through the recovered state
    store.upsert("t", Seq((5L, 9L, "v5new"), (5L, 3L, "stale")).toDF("k", "ts", "v"), "k", "ts")
    val r5 = store.read("t").get.filter(col("k") === 5L).collect()
    assert(r5.length == 1 && r5.head.getAs[String]("v") == "v5new")
  }

  test("write-window crash: a staging without _SUCCESS is dropped, store unchanged") {
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_partial").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 16L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    // partial staging: bucket dirs present, no _SUCCESS (crash mid-write)
    val tmp = Paths.get(s"$base/t/_tmp_upsert/graft_bucket=0")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("part-garbage.parquet"), Array[Byte](1, 2, 3))
    // read ignores it…
    assert(keySet(store.read("t").get) == (0L until 16L).toSet)
    // …and the retry drops it without swapping garbage into the store
    store.upsert("t", Seq((99L, 1L, "x")).toDF("k", "ts", "v"), "k", "ts")
    assert(!new java.io.File(s"$base/t/_tmp_upsert").exists())
    assert(keySet(store.read("t").get) == (0L until 16L).toSet + 99L)
  }

  test("upsert stages one file per bucket (the write's task-commit floor)") {
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_files").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 256L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    val perBucket = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).map { d =>
        d.listFiles().count(f => f.getName.endsWith(".parquet"))
      }
    assert(perBucket.nonEmpty && perBucket.forall(_ == 1),
      s"each bucket must be one parquet file, got ${perBucket.mkString(",")}")
  }

  test("completed staging is recognized by the store's own sentinel, without _SUCCESS") {
    // a deployment with mapreduce.fileoutputcommitter.marksuccessfuljobs=
    // false never writes `_SUCCESS`; the store's own `_graft_staged_ok`
    // (written driver-side after the staged write returns) must be enough
    // for both read() and the retry's swap recovery — otherwise a
    // completed staging is misread as a partial write and deleted after a
    // destination bucket was already removed (the lost-bucket window)
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_sentinel").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    val victim = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).head.getName
      .stripPrefix("graft_bucket=").toInt
    val tmp = Paths.get(s"$base/t/_tmp_upsert")
    Files.createDirectories(tmp)
    Files.move(Paths.get(s"$base/t/graft_bucket=$victim"),
      tmp.resolve(s"graft_bucket=$victim"), StandardCopyOption.ATOMIC_MOVE)
    Files.createFile(tmp.resolve("_graft_staged_ok")) // sentinel only, no _SUCCESS
    assert(keySet(store.read("t").get) == (0L until 64L).toSet,
      "read must treat the sentinel-marked staging as completed")
    store.upsert("t", Seq((1000L, 2L, "new")).toDF("k", "ts", "v"), "k", "ts")
    assert(keySet(store.read("t").get) == (0L until 64L).toSet + 1000L,
      "retry must swap the sentinel-marked staged bucket into place, not drop it")
    // and the new upsert itself left a sentinel-free store (staging cleared)
    assert(!new java.io.File(s"$base/t/_tmp_upsert").exists())
  }

  test("pre-meta store in the swap window: staged bucket replaces the live copy, no duplicate keys") {
    // the window where a destination bucket was NOT yet deleted: both the
    // live bucket and its completed staged successor exist. read() must
    // prefer the staged copy — a raw union would show every key of that
    // bucket twice, and a pre-meta store has no key/version metadata to
    // dedup it by
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_premeta").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    // simulate a store written before _graft_meta existed
    Files.deleteIfExists(Paths.get(s"$base/t/_graft_meta"))
    // completed staging whose bucket was not yet swapped: staged copy is a
    // COPY of the live bucket (the upsert's merged output for a no-change
    // batch), live dir still in place
    val victim = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).head.getName
    val tmp = Paths.get(s"$base/t/_tmp_upsert/$victim")
    Files.createDirectories(tmp)
    val live = new java.io.File(s"$base/t/$victim")
    live.listFiles().filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, tmp.resolve(f.getName))
    }
    Files.createFile(Paths.get(s"$base/t/_tmp_upsert/_graft_staged_ok"))
    val r = store.read("t").get
    assert(keySet(r) == (0L until 64L).toSet)
    assert(r.count() == 64,
      "staged bucket must replace the live copy on read — no duplicate keys in the window")
  }

  test("schema cache survives evolution: new columns merge, fresh stores re-seed") {
    // the r15 bucket-schema cache must stay a SUPERSET of every on-disk
    // bucket: a column introduced by one batch (living only in its bucket)
    // must survive a LATER upsert of that bucket from a FRESH store
    // instance (process restart, empty cache) whose batch lacks the column
    // — the cache re-seeds from ALL bucket dirs, so the merged read still
    // carries it. Asserted against the bucket files (mergeSchema read);
    // `read()`'s plain partition read is a separate, unchanged surface.
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_schema").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    // batch with a NEW column on key 3 (highest version for that key)
    store.upsert("t", Seq((3L, 5L, "v3b", "extra3")).toDF("k", "ts", "v", "w"), "k", "ts")
    def allBuckets() = {
      val dirs = new java.io.File(s"$base/t").listFiles()
        .filter(_.getName.startsWith("graft_bucket=")).map(_.getPath).toIndexedSeq
      spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    }
    // FRESH instance (restart, empty cache): an upsert that touches key 3's
    // bucket with a batch LACKING w and an older version — the re-seeded
    // superset schema must keep (ts=5, w=extra3) as key 3's winner
    val store2 = new DimStore(spark, base)
    store2.upsert("t", Seq((3L, 2L, "v3-stale")).toDF("k", "ts", "v"), "k", "ts")
    val row3 = allBuckets().filter(col("k") === 3L).collect()
    assert(row3.length == 1)
    assert(row3.head.getAs[Long]("ts") == 5L && row3.head.getAs[String]("w") == "extra3",
      "re-seeded cache must preserve the column living only in the touched bucket")
    // same-instance follow-up over the now-cached schema: merge still exact
    store2.upsert("t", Seq((3L, 9L, "v3c")).toDF("k", "ts", "v"), "k", "ts")
    val row3b = allBuckets().filter(col("k") === 3L).collect()
    assert(row3b.length == 1 && row3b.head.getAs[Long]("ts") == 9L)
    assert(allBuckets().count() == 64)
  }

  test("two instances interleaving upserts keep the column one of them adds") {
    // the bucket-schema superset lives in the store (`_graft_schema`), not
    // per instance: `b` learned the schema before `a` added `w`, and its
    // next upsert of key 3's bucket must not read that bucket without `w`
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_two_writers").toString
    val a = new DimStore(spark, base)
    val b = new DimStore(spark, base)
    a.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    b.upsert("t", Seq((5L, 2L, "v5b")).toDF("k", "ts", "v"), "k", "ts")
    a.upsert("t", Seq((3L, 5L, "v3a", "extra3")).toDF("k", "ts", "v", "w"), "k", "ts")
    b.upsert("t", Seq((3L, 2L, "v3-stale")).toDF("k", "ts", "v"), "k", "ts")
    val r = b.read("t").get
    assert(r.columns.contains("w"), "the column a added must survive b's rewrite of its bucket")
    assert(r.count() == 64 && r.select("k").distinct().count() == 64)
    val row3 = r.filter(col("k") === 3L).collect()
    assert(row3.length == 1 && row3.head.getAs[Long]("ts") == 5L &&
      row3.head.getAs[String]("w") == "extra3")
    assert(r.filter(col("k") === 5L).collect().head.getAs[String]("v") == "v5b")
  }

  test("planned touched buckets match the store's placement for Long, Double and Decimal keys") {
    // the warehouse plans touched buckets in its own job (`plan`) and the
    // upsert trusts them: the same logical key must land in one bucket
    // whatever numeric type a batch carries it as
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_planned").toString
    val store = new DimStore(spark, base)
    val keys = 0L until 64L
    val batches = Seq(
      keys.map(k => (k, 1L, s"long$k")).toDF("k", "ts", "v"),
      keys.map(k => (k.toDouble, 2L, s"double$k")).toDF("k", "ts", "v"),
      keys.map(k => (BigDecimal(k).setScale(2), 3L, s"dec$k")).toDF("k", "ts", "v"))
    batches.foreach { df =>
      val plan = store.plan(df.withColumn("t", lit("t")), "t", Map("t" -> "k"))("t")
      assert(plan.rows == 64)
      assert(plan.buckets == df.select(store.bucket(df, "k")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted)
      store.upsert("t", df, "k", "ts", Some(plan.buckets))
    }
    val r = store.read("t").get
    assert(r.count() == 64 && r.select("k").distinct().count() == 64, "no duplicate keys")
    assert(r.filter(col("v").startsWith("dec")).count() == 64, "the newest batch wins every key")
    new java.io.File(s"$base/t").listFiles().filter(_.getName.startsWith("graft_bucket=")).foreach { d =>
      val rows = spark.read.parquet(d.getPath)
      assert(rows.select(store.bucket(rows, "k")).distinct().collect().map(_.getInt(0)).toSeq ==
        Seq(d.getName.stripPrefix("graft_bucket=").toInt), s"rows of $d placed by another bucket")
    }
    // a touched set that misses a bucket fails before anything is swapped
    val before = store.read("t").get.collect().map(_.toSeq).toSet
    val e = intercept[IllegalStateException] {
      store.upsert("t", batches.head, "k", "ts", Some(Seq(0)))
    }
    assert(e.getMessage.contains("outside the touched set"))
    assert(store.read("t").get.collect().map(_.toSeq).toSet == before, "store unchanged")
  }
}
