package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Output sinks (the reference writes extracted forms as JSON files;
  * main.py:216). At corpus scale the same outputs are partitioned
  * columnar/JSON datasets.
  */
object Sinks {

  /** JSON lines output — the reference's `extracted_*.json` analog. */
  def writeFormJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Parquet output partitioned by a low-cardinality column — the shape a
    * downstream 100 TB consumer wants (partition pruning on read).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Bucketed table write: co-locates future joins on `bucketCol` (no
    * shuffle on the bucketed key at read time). Requires a table name since
    * bucketing metadata lives in the catalog.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int = 32): Unit =
    writeBucketedBy(df, table, Seq(bucketCol), buckets)

  /** Multi-column bucketed write — e.g. the dedup band index bucketed by
    * (band_id, band_hash): every per-crawl join against the stored index
    * hits exactly those keys, so a bucketed index is read pre-partitioned
    * and the base corpus side of the incremental-dedup joins never
    * shuffles (spec-asserted by Exchange count).
    */
  def writeBucketedBy(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", s"/tmp/graft_warehouse/$table").saveAsTable(table)

  /** Rewrite-and-swap for stored-index COMPACTION: materialize
    * `rewrite(current contents)` NEXT TO the live directory, then swap
    * via two directory renames and delete the moved-aside original.
    * A crash never leaves a half-written table at the live path: before
    * the first rename the original is untouched (the rewrite lands at
    * `_compact_tmp`), and between the renames BOTH complete tables exist
    * (`_compact_old`, `_compact_tmp`) — recovery is one rename. A writer
    * (append) running concurrently with compaction is the caller's
    * exclusion to provide, same as every stored-index overwrite here.
    * Production on an object store swaps a metastore pointer instead;
    * the write-new → swap → delete sequence is identical.
    */
  def compactSwap(spark: SparkSession, dir: String,
      partitionCols: Seq[String] = Nil)
      (rewrite: DataFrame => DataFrame): Unit = {
    // heal BEFORE reading: after a crash between a prior swap's renames
    // the live path is absent until healSwap reinstates it
    healSwap(spark, dir)
    swapIn(spark, dir, partitionCols)(rewrite(spark.read.parquet(dir)))
  }

  /** Materialize `df` NEXT TO the live directory it may itself read from
    * (lazy evaluation: the live files are scanned while the replacement
    * writes to `_tmp`), then swap via two renames and delete the
    * moved-aside original — the write-new → swap → delete sequence
    * shared by index compaction and the membership write-back. Crash
    * between the renames leaves both complete tables on disk; recovery
    * is one rename.
    */
  def swapIn(spark: SparkSession, dir: String,
      partitionCols: Seq[String] = Nil, markers: Seq[String] = Nil)(df: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    healSwap(spark, dir) // a prior swap may have crashed between its renames
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + "_compact_tmp")
    val old = new Path(dir + "_compact_old")
    fs.delete(tmp, true)
    fs.delete(old, true)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    // provenance markers (underscore-prefixed → invisible to readers) land
    // INSIDE the replacement before the rename, so "marker present at the
    // live path" is exactly "this swap completed" — the signal a journaled
    // multi-step store advance (UnifiedDedupStore.processCrawl) recovers on
    markers.foreach(m => fs.create(new Path(tmp, m), true).close())
    require(fs.rename(live, old), s"table swap failed: $live -> $old")
    require(fs.rename(tmp, live), s"table swap failed: $tmp -> $live")
    fs.delete(old, true)
    // drop cached plans/file listings over the replaced path (see
    // swapRoot) — refresh AFTER the swap so post-swap readers re-list
    spark.catalog.refreshByPath(dir)
  }

  /** MULTI-TABLE store advance: materialize replacement versions of
    * every table (name → frame, each free to READ the live store — the
    * live files stay in place until the renames) under
    * `<root>_compact_tmp/<name>`, then advance the whole ROOT via the
    * same two-rename dance as [[swapIn]]. A store of several tables
    * moves atomically: a crash before the renames leaves the live store
    * untouched, between them both complete stores exist and
    * [[healSwap]] on the root rolls forward. This is the advance a
    * NON-IDEMPOTENT rewrite needs (count increments/decrements —
    * [[graft.operators.LmIndex]] / [[graft.operators.NbIndex]]): a
    * per-table [[compactSwap]] sequence could crash between tables and
    * leave a mixed-version store that a blind re-run would corrupt
    * further, whereas here the op either fully applied or did not apply
    * at all — exactly-once across retries stays the caller's contract
    * (key ops by crawl id, the UnifiedDedupStore journal discipline).
    */
  def swapRoot(spark: SparkSession, root: String)
      (tables: Seq[(String, DataFrame)]): Unit = {
    import org.apache.hadoop.fs.Path
    healSwap(spark, root)
    val live = new Path(root)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(root + "_compact_tmp")
    val old = new Path(root + "_compact_old")
    fs.delete(tmp, true)
    fs.delete(old, true)
    // the replacement tables are independent (distinct subdirs, all
    // landing in tmp before any rename) — write them as CONCURRENT jobs
    // (guide §2.6: one write's task tail leaves most cores idle; the next
    // table's tasks back-fill). Any failure propagates before the renames,
    // so atomicity is unchanged.
    writeAllParallel(tables.map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(new Path(tmp, name).toString)
    })
    require(fs.rename(live, old), s"store swap failed: $live -> $old")
    require(fs.rename(tmp, live), s"store swap failed: $tmp -> $live")
    fs.delete(old, true)
    // drop cached plans/file listings over the replaced path — a reader
    // who persisted a scan of the OLD table would otherwise keep being
    // served the pre-swap rows from the in-memory relation
    spark.catalog.refreshByPath(root)
  }

  /** Run independent write thunks concurrently and propagate the first
    * failure — the multi-table store writers' shared overlap seam
    * (Spark's scheduler interleaves the jobs; FIFO back-fills each job's
    * task tail with the next job's tasks). Each thunk runs under the
    * caller's active session: a pooled thread otherwise keeps the one it
    * inherited when it was spawned — possibly a clone Spark made for
    * caching, with a stale conf — and `GraftConf` reads in the thunk
    * (stamps, train knobs) would see that conf instead of the caller's.
    */
  private[graft] def writeAllParallel(writes: Seq[() => Unit]): Unit =
    if (writes.lengthCompare(1) <= 0) writes.foreach(_.apply())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val caller = SparkSession.getActiveSession
      def asCaller(w: () => Unit): Unit = {
        val prev = SparkSession.getActiveSession
        caller.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        try w()
        finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      }
      Await.result(Future.traverse(writes)(w => Future(asCaller(w))), Duration.Inf)
    }

  /** Heal a directory whose last [[swapIn]] crashed BETWEEN its two
    * renames — the one window where no live table exists (the
    * replacement still at `_compact_tmp`, the original moved aside to
    * `_compact_old`, both complete). Rolls FORWARD to the replacement:
    * it was fully written — provenance markers included — before the
    * first rename, so marker-present ⟺ swap-completed stays exact for
    * journaled recoveries keyed on it. If only the `_compact_old`
    * remnant survives (a half-cleaned earlier heal), the original is
    * restored instead. No-op on a healthy directory; [[swapIn]] runs it
    * first so a crashed dir never loses its replacement to the tmp
    * cleanup, and store-level recovery (UnifiedDedupStore.recover) runs
    * it on every table before reading markers.
    */
  def healSwap(spark: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live)) {
      val tmp = new Path(dir + "_compact_tmp")
      val old = new Path(dir + "_compact_old")
      if (fs.exists(tmp)) {
        require(fs.rename(tmp, live), s"swap heal failed: $tmp -> $live")
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        require(fs.rename(old, live), s"swap heal failed: $old -> $live")
      }
    }
  }
}
