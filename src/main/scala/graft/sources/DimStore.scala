package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Keyed dimension store — the Spark rendering of the reference's
  * Phoenix/HBase dim tables + Redis cache (S8/S9:
  * `app/function/DimSinkFunction.java:21-77`,
  * `TableProcessFunction.java:66-122`, `utils/DimUtil.java:13-45`).
  *
  * Upserts land via `foreachBatch`; the read side is a plain scan that a
  * fact-stream join broadcasts — Catalyst's broadcast hash join replaces
  * the whole async/Redis/thread-pool point-lookup machinery, and "cache
  * invalidation" disappears because each micro-batch re-reads the store.
  *
  * Storage is last-write-wins keyed parquet, HASH-BUCKETED by key
  * (`graft_bucket=<i>` subdirectories, `spark.graft.dim.buckets` of them,
  * default 16): an upsert rewrites ONLY the buckets its batch keys hash
  * into, so per-batch I/O is O(touched buckets), not O(table) — the Spark
  * rendering of the reference's per-row Phoenix UPSERT
  * (`app/function/DimSinkFunction.java:68-77`). A slowly-growing dim (the
  * user table) costs each micro-batch a few buckets however large the
  * table gets; untouched bucket files are left byte-identical. (A
  * Delta/Iceberg MERGE replaces this layout in a real deployment; the
  * upsert contract is identical.)
  */
class DimStore(spark: SparkSession, basePath: String,
               profileHook: (String, Double) => Unit = (_, _) => ()) {

  private def path(table: String) = s"$basePath/$table"

  /** Per-phase wall attribution for `upsert` (the streaming warehouse's
    * per-batch fixed-cost breakdown): each phase's seconds are reported to
    * `profileHook`, a no-op by default.
    */
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    profileHook(name, (System.nanoTime() - t0) / 1e9)
    r
  }

  private def numBuckets: Int =
    spark.conf.get("spark.graft.dim.buckets", "16").toInt

  /** Per-table superset of every on-disk bucket's columns, kept ON DISK in
    * the `_graft_schema` sidecar (schema JSON): seeded from a one-time
    * mergeSchema pass over all bucket dirs, rewritten to each staged
    * write's union schema (which contains the previous sidecar, hence
    * every untouched bucket) BEFORE the staging is marked complete. Lets
    * upserts and `read` use an explicit schema — zero per-batch footer
    * inference. Being on disk rather than per instance, it stays exact
    * when several `DimStore` instances (or processes) take turns writing
    * one table: a column one writer adds is seen by the next upsert of
    * every other writer. Reading it costs one small file read per upsert.
    */
  private def schemaFile(table: String) =
    java.nio.file.Paths.get(s"${path(table)}/_graft_schema")

  private def readSchema(table: String): Option[StructType] = {
    val f = schemaFile(table)
    if (java.nio.file.Files.exists(f))
      Some(DataType.fromJson(new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType])
    else None
  }

  /** Replace the sidecar atomically, so a reader never sees a torn file. */
  private def writeSchema(table: String, schema: StructType): Unit = {
    val f = schemaFile(table)
    val tmp = f.resolveSibling("_graft_schema.tmp")
    java.nio.file.Files.write(tmp, schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Parquet read with the sidecar schema when the table has one. */
  private def readParquet(table: String, paths: Seq[String]): DataFrame =
    readSchema(table).fold(spark.read)(spark.read.schema(_)).parquet(paths: _*)

  /** Bucket of a key value: hash of a CANONICAL string form so the same
    * logical key buckets identically whatever numeric type a batch arrives
    * with. Integral/string keys hash their plain string form (`7L → "7"`,
    * unchanged from the original layout, so existing integral-keyed stores
    * keep their bucket placement). Floating/decimal keys with an INTEGRAL
    * value are normalized to that same integral form — `7.0d → "7"`,
    * `decimal 7.00 → "7"` — so a key arriving as Long in one batch and
    * Double in the next lands in ONE bucket and the versioned dedup can
    * collapse it (a raw string cast puts `"7.0"` and `"7"` in different
    * buckets: duplicate keys `read()` would never see merged). Genuinely
    * fractional values hash their double string form (`7.5` however typed
    * → `"7.5"`). Integral keys are the recommended contract (the
    * reference's dims are all integer-keyed); integral-valued keys beyond
    * long range fall back to the double form (consistent, just no longer
    * cross-type with a long — a long can't hold them anyway).
    */
  private def canonicalKey(df: DataFrame, keyCol: String) =
    df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType |
           _: org.apache.spark.sql.types.DecimalType =>
        val k = col(keyCol)
        // NOT decimal→string (BigDecimal renders 0 at scale 9 as "0E-9");
        // the long-range guard keeps the integral cast from overflowing
        when(k === floor(k) && abs(k) < lit(9.0e18),
          floor(k).cast("long").cast("string"))
          .otherwise(k.cast("double").cast("string"))
      case _ => col(keyCol).cast("string")
    }

  private def bucketOf(df: DataFrame, keyCol: String, nb: Int) =
    pmod(xxhash64(canonicalKey(df, keyCol)), lit(nb.toLong)).cast("int")

  /** The bucket `upsert` places a row of `df` in, by its `keyCol` value —
    * the one expression callers precomputing touched buckets must use.
    */
  def bucket(df: DataFrame, keyCol: String): Column = bucketOf(df, keyCol, numBuckets)

  /** Plan several tables' upserts in ONE Spark job: `routed` carries the
    * target table name in `tableCol`, and `keyCols` maps each table to its
    * key column. Returns, per table with rows, its row count and the
    * sorted buckets its keys hash into — pass those to `upsert` as
    * `touched` (the caller's size guard reads the counts before any
    * write). Each partition counts its own (table, bucket) pairs and the
    * driver sums them: at most partitions × tables × buckets small rows
    * come back, and no shuffle stage (an extra job under AQE) is planned.
    */
  def plan(routed: DataFrame, tableCol: String,
           keyCols: Map[String, String]): Map[String, DimStore.Touched] =
    if (keyCols.isEmpty) Map.empty
    else {
      import spark.implicits._
      val b = keyCols.foldLeft(lit(null).cast("int")) { case (acc, (t, k)) =>
        when(col(tableCol) === t, bucket(routed, k)).otherwise(acc)
      }
      val partials = routed.filter(col(tableCol).isin(keyCols.keys.toSeq: _*))
        .select(col(tableCol), b).as[(String, Int)]
        .mapPartitions { it =>
          val n = scala.collection.mutable.HashMap[(String, Int), Long]()
          it.foreach(k => n(k) = n.getOrElse(k, 0L) + 1)
          n.iterator
        }.collect()
      partials.groupBy(_._1._1).map { case (t, ps) =>
        t -> DimStore.Touched(ps.map(_._2).sum, ps.map(_._1._2).distinct.toSeq.sorted)
      }
    }

  /** Last-write-wins collapse shared by the upsert merge and the
    * mixed-layout read: highest `versionCol` per `keyCol` wins, version
    * ties broken deterministically by a hash of every upserted column. A
    * frame carrying `graft_bucket` is windowed per (bucket, key): the
    * bucket is a function of the key, so the groups are the same, and a
    * frame already hash-partitioned by the bucket needs no second shuffle.
    */
  private def dedupLatest(df: DataFrame, keyCol: String, versionCol: String): DataFrame = {
    val rowHash = xxhash64(df.columns.filterNot(_ == "graft_bucket").map(col).toIndexedSeq: _*)
    val part = if (df.columns.contains("graft_bucket")) Seq(col("graft_bucket"), col(keyCol))
               else Seq(col(keyCol))
    val w = Window.partitionBy(part: _*).orderBy(col(versionCol).desc, rowHash.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Per-table key/version metadata (`_graft_meta`, underscore-prefixed so
    * parquet readers and the flat-file scan ignore it), written before any
    * bucket write so the crashed-migration window always knows how to
    * collapse a mixed layout on read.
    */
  private def writeMeta(table: String, keyCol: String, versionCol: String): Unit = {
    new java.io.File(path(table)).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${path(table)}/_graft_meta"),
      s"keyCol=$keyCol\nversionCol=$versionCol\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readMeta(table: String): Option[(String, String)] = {
    val f = java.nio.file.Paths.get(s"${path(table)}/_graft_meta")
    if (java.nio.file.Files.exists(f)) {
      val kv = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.filter(_.contains("=")).map { l =>
          val Array(k, v) = l.split("=", 2); k -> v
        }.toMap
      for (k <- kv.get("keyCol"); v <- kv.get("versionCol")) yield (k, v)
    } else None
  }

  /** Completed-staging marker, written by the STORE itself (driver-side,
    * after the staged write returns) rather than relying on Spark's
    * job-committer `_SUCCESS` file: a deployment with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` never writes
    * `_SUCCESS`, which would make a genuinely completed staging look like
    * a partial write and get deleted AFTER a destination bucket was
    * already removed — exactly the lost-bucket window the swap recovery
    * exists to close. `_SUCCESS` is still honored on read for stores
    * staged by older versions of this code.
    */
  private def stagedComplete(tmp: java.io.File): Boolean =
    new java.io.File(tmp, "_graft_staged_ok").exists ||
      new java.io.File(tmp, "_SUCCESS").exists

  /** Complete a crashed upsert's pending bucket swaps before anything else
    * touches the store. The staged dirs under `_tmp_upsert` are the
    * AUTHORITATIVE merged state (old bucket ∪ batch, deduped) only once the
    * staged write finished — the store's own `_graft_staged_ok` sentinel
    * (see `stagedComplete`) records exactly that. Without the marker the
    * staging is a partial write from a crash BEFORE any destination bucket
    * was deleted, so dropping it loses nothing. With it, the crash may
    * have landed between a destination bucket's delete and the move that
    * replaces it — the bucket's ONLY surviving copy lives in staging — so
    * every staged bucket still present is swapped into place (a staged
    * bucket strictly supersedes the pre-batch bucket it merged), and only
    * then is the staging dir removed. Idempotent: already-moved buckets
    * have no staged src left.
    */
  private def recoverStaged(table: String): Unit = {
    val tmp = new java.io.File(s"${path(table)}/_tmp_upsert")
    if (!tmp.exists) return
    if (stagedComplete(tmp)) {
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("graft_bucket="))
        .foreach { src =>
          val dst = new java.io.File(s"${path(table)}/${src.getName}")
          rmTreeF(dst)
          java.nio.file.Files.move(src.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          ()
        }
    }
    rmTree(tmp.getPath)
  }

  /** Upsert a batch of rows keyed by `keyCol`, versioned by `versionCol`
    * (highest version wins; version ties broken deterministically by a
    * whole-row hash so repeated runs of the same input converge).
    *
    * Only the key-hash buckets present in the batch are merged and
    * rewritten — in ONE Spark job after one shuffle: the batch plus the
    * touched buckets' current rows are unioned, hash-partitioned by bucket,
    * collapsed last-write-wins within each partition, and written to a
    * staging dir `partitionBy(graft_bucket)`; each staged bucket dir is
    * then swapped into place with a driver-side atomic rename. (The
    * previous rendering looped the buckets sequentially — two jobs per
    * bucket, ~35 jobs for a batch touching all 16 — and was the dominant
    * term of the streaming warehouse's per-batch fixed cost.) Crash
    * recovery: a retry FIRST completes any pending swaps from a crashed
    * prior attempt (`recoverStaged` — a completed staging is authoritative,
    * so the delete-then-move window cannot orphan a bucket's only copy),
    * then re-merges; the versioned dedup converges, and `read()` both
    * ignores the `_`-prefixed staging dir and unions a COMPLETED staging
    * back in, so the store is never unreadable or lossy in the window.
    *
    * `touched` is the batch's bucket set when the caller already knows it
    * (from `plan`); otherwise the store collects it, one more Spark job. A
    * staged bucket outside `touched` fails the upsert before the staging is
    * marked complete: swapping it in would drop the rows the merge never
    * read from that bucket.
    *
    * A store written by the pre-bucket flat layout is migrated in the same
    * one pass (every bucket rewritten once, flat files then removed).
    */
  def upsert(table: String, batch: DataFrame, keyCol: String, versionCol: String,
             touched: Option[Seq[Int]] = None): Unit = {
    recoverStaged(table)
    val nb = numBuckets
    val tableDir = new java.io.File(path(table))
    val flatFiles = Option(tableDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    // legacy flat store: fold every row in once. Read by EXPLICIT file
    // paths, not the directory — a migration that crashed between bucket
    // writes and flat-file deletion leaves a mixed layout that directory
    // listing + partition discovery reject ("conflicting directory
    // structures"); explicit paths make the retry converge instead.
    // During a retry rows may exist BOTH in a bucket and in the remaining
    // flat files — both sides are merged; the versioned dedup collapses
    // the overlap deterministically.
    val legacy: Option[DataFrame] =
      if (flatFiles.nonEmpty)
        Some(spark.read.parquet(flatFiles.map(_.getPath).toIndexedSeq: _*))
      else None
    writeMeta(table, keyCol, versionCol) // before any bucket write: a crash
    // mid-migration must leave enough metadata for read() to collapse the
    // mixed layout it creates
    val buckets: Seq[Int] =
      if (legacy.isDefined) 0 until nb
      else touched.getOrElse(phase("touched_collect") {
        // driver-side collect bounded by numBuckets
        batch.select(bucketOf(batch, keyCol, nb)).distinct().collect().map(_.getInt(0)).toSeq.sorted
      })
    // `known`: superset of every on-disk bucket's columns — the sidecar,
    // seeded ONCE from ALL bucket dirs (not just touched — a column living
    // only in an untouched bucket must survive into the superset); None
    // before the first bucket exists. Then ONE multi-path read for every
    // touched bucket: a per-bucket spark.read.parquet pays driver-side
    // footer/schema inference per bucket (~45 ms × buckets × tables —
    // measured as HALF the remaining per-batch dim floor in BENCH_STREAM's
    // dim_phase_bucket_open), while one read over the path list infers
    // once and lists once; with the explicit superset schema steady-state
    // batches pay NO footer inference at all. Parquet nulls the gaps of
    // files missing a column exactly like mergeSchema did. Buckets can
    // legitimately differ in schema (an upsert batch with new columns
    // rewrites only ITS buckets).
    val sidecar = readSchema(table)
    val (known, bucketExisting) = phase("bucket_open") {
      val known: Option[StructType] = sidecar.orElse {
        val allDirs = Option(tableDir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("graft_bucket="))
          .map(_.getPath).toIndexedSeq
        if (allDirs.isEmpty) None
        else Some(StructType(spark.read.option("mergeSchema", "true").parquet(allDirs: _*)
          .schema.filterNot(_.name == "graft_bucket")))
      }
      val paths = buckets.map(i => s"${path(table)}/graft_bucket=$i")
        .filter(p => new java.io.File(p).exists)
      (known, if (paths.isEmpty) None else Some(spark.read.schema(known.get).parquet(paths: _*)))
    }
    val merged = (Seq(batch) ++ bucketExisting.toSeq ++ legacy.toSeq)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    // ONE shuffle: hash-partition by the bucket, then dedup per (bucket,
    // key) — the partitioning already satisfies the window's clustering,
    // so no second exchange is planned, and each bucket lives in one
    // partition, so `partitionBy` writes exactly one file per bucket: the
    // bucket is this store's unit of rewrite (at 100 TB you raise
    // spark.graft.dim.buckets, not the per-bucket file count). The
    // tie-break hash covers exactly the upserted columns, not the bucket,
    // so winners are those of a key-partitioned dedup. At most one task
    // per core: a task holding several buckets still writes one file per
    // bucket (its rows arrive sorted by bucket), and every task beyond the
    // cores only adds its own commit. Measured on the streaming warehouse
    // (4 cores, 16 buckets, two dims upserting side by side): the previous
    // shape — a dedup shuffle by key, then a second shuffle into 16
    // partitions — ran 3 jobs per upsert; this shape runs 2, and one task
    // per core instead of 16 cut the batch's tasks from 73 to 49 and the
    // dashboard's p90 by a fifth at equal freshness (CHANGES.md has the
    // A/B pairs and the ablation).
    val staged = dedupLatest(
      merged.withColumn("graft_bucket", bucketOf(merged, keyCol, nb))
        .repartition(math.min(nb, spark.sparkContext.defaultParallelism), col("graft_bucket")),
      keyCol, versionCol)
    // the touched buckets ARE the staged schema; untouched ones ⊆ `known`.
    // Nullable throughout, as a file read returns it, so an unchanged
    // column set leaves the sidecar byte-identical.
    val stagedFields = staged.schema.filterNot(_.name == "graft_bucket")
    val schema = StructType((stagedFields ++ known.toSeq.flatMap(_.fields)
      .filterNot(f => stagedFields.exists(_.name == f.name))).map(_.copy(nullable = true)))
    val tmp = s"${path(table)}/_tmp_upsert"
    phase("staged_write") {
      staged.write.mode(SaveMode.Overwrite).partitionBy("graft_bucket").parquet(tmp)
      val stray = Option(new java.io.File(tmp).list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("graft_bucket="))
        .map(_.stripPrefix("graft_bucket=").toInt).filterNot(buckets.toSet)
      if (stray.nonEmpty) {
        rmTree(tmp)
        throw new IllegalStateException(s"dim upsert of $table staged buckets " +
          s"${stray.sorted.mkString(",")} outside the touched set ${buckets.mkString(",")}: " +
          "touched buckets must come from DimStore.bucket/plan under the same bucket count")
      }
      // the sidecar before the sentinel: once the staging counts as
      // complete (and may be swapped in by a recovery), the sidecar
      // already covers its columns
      if (!sidecar.contains(schema)) writeSchema(table, schema)
      // the store's own completion sentinel, independent of the committer
      // conf (see stagedComplete) — written only once the job returned
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/_graft_staged_ok"), Array.empty[Byte])
    }
    phase("swap") {
      buckets.foreach { i =>
        val src = new java.io.File(s"$tmp/graft_bucket=$i")
        // a touched bucket always stages ≥1 row (the batch's rows hash there
        // and dedup keeps one row per key); absent src = genuinely empty
        // bucket during a full migration — nothing to place
        if (src.exists()) {
          val dst = new java.io.File(s"${path(table)}/graft_bucket=$i")
          rmTreeF(dst)
          java.nio.file.Files.move(src.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          ()
        }
      }
      rmTree(tmp)
      // migration complete: the flat files' rows now live in the buckets
      flatFiles.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    }
  }

  private def rmTreeF(d: java.io.File): Unit = {
    if (d.isDirectory) d.listFiles().foreach(rmTreeF)
    d.delete(); ()
  }

  private def rmTree(dir: String): Unit = {
    val d = new java.io.File(dir)
    if (d.exists)
      java.nio.file.Files.walk(d.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
  }

  /** Whole-store read: partition discovery over the bucket directories;
    * the synthetic `graft_bucket` partition column is dropped so callers see
    * exactly the upserted schema. The `_graft_schema` sidecar is the read
    * schema when present, so a column living only in some buckets is not
    * lost to single-footer schema inference.
    *
    * A store caught in the crashed-migration window — flat leftover files
    * next to bucket directories — is readable too: a directory-path read
    * would reject the mixed layout ("conflicting directory structures"), so
    * both halves are read by EXPLICIT paths and collapsed with the same
    * versioned last-write-wins dedup the upsert retry applies (key/version
    * columns from `_graft_meta`). A store caught in the SWAP window — a
    * COMPLETED staging (the `_graft_staged_ok` sentinel, see
    * `stagedComplete`) whose bucket moves were interrupted, possibly after
    * a destination bucket was deleted — is read losslessly too: each
    * staged bucket dir is read IN PLACE OF the live bucket it supersedes
    * (so even a pre-meta store never shows a key twice), WITHOUT mutating
    * the store —
    * repair itself belongs to the next `upsert`'s `recoverStaged`. The
    * store is thus never unreadable or lossy in the exact windows the
    * upsert retry exists to recover from.
    */
  def read(table: String): Option[DataFrame] = {
    val tableDir = new java.io.File(path(table))
    if (!tableDir.exists) None
    else {
      val entries = Option(tableDir.listFiles()).getOrElse(Array.empty)
      val flat = entries
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      val buckets = entries
        .filter(f => f.isDirectory && f.getName.startsWith("graft_bucket="))
      val tmp = new java.io.File(s"${path(table)}/_tmp_upsert")
      val stagedDirs: Array[java.io.File] =
        if (stagedComplete(tmp))
          Option(tmp.listFiles()).getOrElse(Array.empty)
            .filter(d => d.isDirectory && d.getName.startsWith("graft_bucket="))
        else Array.empty
      // a completed staged bucket strictly SUPERSEDES the live bucket it
      // merged (old ∪ batch, deduped) — read the staged copy INSTEAD of
      // unioning both. With `_graft_meta` present the versioned dedup
      // would collapse the overlap anyway, but a pre-meta store caught in
      // the swap window has no key/version to dedup by, and the raw union
      // would show every key in a not-yet-swapped bucket twice.
      val stagedNames = stagedDirs.map(_.getName).toSet
      val liveBuckets = buckets.filterNot(b => stagedNames.contains(b.getName))
      // dir holding only metadata (crash between the meta write and the
      // first bucket write): an empty store, not a schema-inference error
      if (flat.isEmpty && buckets.isEmpty && stagedDirs.isEmpty) return None
      val df =
        if (flat.nonEmpty || stagedDirs.nonEmpty) {
          // explicit leaf-dir paths: no partition discovery, so no synthetic
          // graft_bucket column and no layout conflict between the halves
          val parts = Seq(
            liveBuckets.map(_.getPath).toSeq, flat.map(_.getPath).toSeq,
            stagedDirs.map(_.getPath).toSeq)
            .filter(_.nonEmpty)
            .map(ps => readParquet(table, ps))
          val merged = parts.reduce(_.unionByName(_, allowMissingColumns = true))
          readMeta(table) match {
            case Some((keyCol, versionCol)) => dedupLatest(merged, keyCol, versionCol)
            // pre-meta store caught mid-crash: raw union is still a read
            // (the next upsert's retry collapses it)
            case None => merged
          }
        } else readParquet(table, Seq(path(table)))
      Some(if (df.columns.contains("graft_bucket")) df.drop("graft_bucket") else df)
    }
  }

  /** Point lookup — test/debug convenience mirroring `DimUtil.getDimInfo`;
    * production joins the whole store via broadcast instead.
    */
  def lookup(table: String, keyCol: String, key: Any): Array[org.apache.spark.sql.Row] =
    read(table).map(_.filter(col(keyCol) === lit(key)).collect()).getOrElse(Array.empty)
}

object DimStore {
  /** One table's share of an upsert plan: its batch row count and the
    * sorted buckets its keys hash into.
    */
  final case class Touched(rows: Long, buckets: Seq[Int])
}

/** S5 analog: dynamic per-row topic routing
  * (`utils/MyKafkaUtil.java:29-38`, used `BaseDBApp.java:93-99`): rows
  * carry their destination in a column; the sink writes each group to its
  * own path/topic. With a real Kafka sink this is just the `topic` column;
  * the file rendering is `partitionBy` — one directory per sink table.
  */
object DynamicTopicSink {
  def write(df: DataFrame, outDir: String, topicCol: String = "sink_table"): Unit =
    df.write.mode(SaveMode.Append).partitionBy(topicCol).parquet(outDir)
}
