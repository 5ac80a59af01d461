package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

/** The artifact layer: what graft stores, how each stored table carries
  * its build-time conf, and how the session cache publishes a build.
  *
  *  - '''Stamps.''' Every persisted index (MinHash band tables, SRP
  *    signatures, winnow fingerprint indexes, line-dedup unit hashes,
  *    IVF-PQ stores, BPE merge tables, unigram piece models, SBO language
  *    models, NB classifiers) carries its conf fingerprint in parquet
  *    column metadata under one [[ConfStamp]] kind. The stamp rides the
  *    schema through parquet and catalog round-trips; a reader fails fast
  *    on drift and on a missing stamp (an unstamped table is foreign, and
  *    using it blind is exactly the silent mismatch the stamp prevents).
  *  - '''Catalog.''' [[scan]] is the fleet view over the same stamps;
  *    [[health]] is the fragmentation view over the same directories.
  *  - '''Cache.''' With `spark.graft.bench.artifactDir` set, stored
  *    indexes and directory stores build once per (name, corpus dir,
  *    live `spark.graft.*` conf) and publish through one temp-dir build,
  *    atomic rename and `_GRAFT_STORE_OK` marker ([[publish]]);
  *    everything else builds in-query. The conf half of the key is the
  *    whole graft conf ([[confKey]]), so no artifact lists the knobs it
  *    depends on and a new knob can never be left out of a key. Operators
  *    call [[storedIndex]] and never look at the conf themselves.
  */
object ArtifactCatalog {

  // ---- stamps ------------------------------------------------------------

  /** One stamp kind: the metadata `key`, the `column` it rides on by
    * default, a human `label` for errors, and `live`, which maps a stored
    * fingerprint to the live conf's fingerprint for that kind (most kinds
    * ignore the argument; NB and ANN read model-family tags off it).
    */
  final case class ConfStamp(key: String, column: String, label: String,
      live: String => String) {

    /** `df` with `fp` (by default the live fingerprint) stamped into
      * column `on`'s metadata.
      */
    def stamp(df: DataFrame, fp: String = live(""), on: String = column): DataFrame =
      df.withColumn(on, col(on).as(on, new MetadataBuilder().putString(key, fp).build()))

    /** The stored fingerprint on column `on`, if there is one. */
    def stored(schema: StructType, on: String = column): Option[String] =
      schema.fields.find(_.name == on)
        .filter(_.metadata.contains(key))
        .map(_.metadata.getString(key))

    /** Fail fast on a missing stamp or on drift; returns the stored
      * fingerprint. `expect` overrides the live fingerprint when the
      * reader, not the store, decides it (an ANN query path asks for raw
      * or residual codes).
      */
    def check(df: DataFrame, what: String, on: String = column,
        expect: Option[String] = None): String = stored(df.schema, on) match {
      case None => throw new IllegalStateException(
        s"$what carries no $key conf stamp — not a graft-written $label artifact " +
          "(or written by a pre-stamp build); refusing to use it blind — rebuild it")
      case Some(fp) =>
        val want = expect.getOrElse(live(fp))
        if (fp != want) throw new IllegalStateException(
          s"$what was built with $label conf [$fp] but the live spark.graft.* conf is " +
            s"[$want]; its stored rows would silently disagree with the live " +
            "derivation — rebuild it or align the conf")
        fp
    }
  }

  val BandingStamp = ConfStamp("graft.banding", "band_hash", "banding",
    _ => Dedup.bandingFingerprint)
  val SrpStamp = ConfStamp("graft.srp", "band_val", "SRP", _ => Dedup.srpFingerprint)
  val WinnowStamp = ConfStamp("graft.winnow", "fp", "winnow",
    _ => TextAnalysis.winnowFingerprintConf)
  val LineStamp = ConfStamp("graft.linedd", "h", "line-dedup",
    _ => TextAnalysis.lineFingerprintConf)
  val BpeStamp = ConfStamp("graft.bpe", "new_sym", "BPE", _ => Bpe.bpeFingerprint)
  val UnigramStamp = ConfStamp("graft.unigram", "piece", "unigram",
    _ => Unigram.unigramFingerprint)
  val SboStamp = ConfStamp("graft.lm.sbo", "word", "SBO", _ => LmIndex.sboFingerprint)
  val NbStamp = ConfStamp("graft.nb", "lang", "NB", NbIndex.fingerprintFor)
  val AnnStamp = ConfStamp("graft.ann.ivfpq", "cemb", "ANN", AnnIndex.fingerprintFor)

  /** Every registered stamp kind — what [[scan]] looks for. */
  val Stamps: Seq[ConfStamp] = Seq(BandingStamp, SrpStamp, WinnowStamp, LineStamp,
    BpeStamp, UnigramStamp, SboStamp, NbStamp, AnnStamp)

  // ---- catalog -----------------------------------------------------------

  /** Leaf parquet directories under `root`: a dir counts as one artifact
    * when it directly holds parquet data files or `key=value` partition
    * directories, and the walk does NOT descend further — a
    * cell-partitioned code table is ONE artifact, not one per partition
    * directory.
    */
  private def artifactDirs(f: java.io.File): List[java.io.File] =
    if (!f.isDirectory) Nil
    else {
      val children = Option(f.listFiles).map(_.toList).getOrElse(Nil)
      val isLeaf = children.exists(c => c.getName.endsWith(".parquet") ||
        (c.isDirectory && c.getName.contains("=")))
      if (isLeaf) List(f) else children.flatMap(artifactDirs)
    }

  /** "Which artifacts under this root were built under a conf that no
    * longer matches the live session?" — answered BEFORE a nightly
    * pipeline trips a dozen stamp checks one at a time. Walks the root
    * (driver-side, bounded by the artifact count), reads each leaf's
    * FOOTER SCHEMA only (no data IO), and reports one row per stamped
    * column: (path, column, kind, stored_conf, live_conf, drifted).
    */
  def scan(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val rows = artifactDirs(new java.io.File(root)).sortBy(_.getPath).flatMap { dir =>
      val schema =
        try spark.read.parquet(dir.getPath).schema
        catch { case _: Exception => StructType(Nil) }
      schema.fieldNames.toList.flatMap { c =>
        Stamps.flatMap { s =>
          s.stored(schema, c).map { stored =>
            val liveFp = s.live(stored)
            (dir.getPath, c, s.key, stored, liveFp, stored != liveFp)
          }
        }
      }
    }
    rows.toDF("path", "column", "kind", "stored_conf", "live_conf", "drifted")
  }

  /** FRAGMENTATION dashboard over the artifacts under `root` — the
    * measure-before-act read for the compaction lifecycle
    * ([[PostingsIndex.compactPostings]], [[AnnIndex.compactIvfPq]],
    * [[UnifiedDedupStore.compact]]): K crawl appends leave K file sets
    * per store (and K small files per hot partition of a
    * Hive-partitioned one), and an operator schedules compaction off
    * exactly these numbers rather than tripping over decayed pruning in
    * production. One row per artifact:
    * (path, n_files, bytes, n_partitions, max_files_per_partition) —
    * `n_partitions` counts `key=`-style partition directories (0 for a
    * flat table), `max_files_per_partition` is the per-partition file
    * count ceiling (for a flat table, the whole dir's count). Driver-side
    * directory walk, bounded by artifact + file counts — on an object
    * store this is one LIST per artifact, the same bounded driver work
    * as [[scan]]'s footer reads.
    */
  def health(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    def parquetsUnder(d: java.io.File): List[java.io.File] = {
      val children = Option(d.listFiles).map(_.toList).getOrElse(Nil)
      children.filter(f => f.isFile && f.getName.endsWith(".parquet")) :::
        children.filter(_.isDirectory).flatMap(parquetsUnder)
    }
    val rows = artifactDirs(new java.io.File(root)).sortBy(_.getPath).map { dir =>
      val parts = Option(dir.listFiles).map(_.toList).getOrElse(Nil)
        .filter(d => d.isDirectory && d.getName.contains("="))
      val files = parquetsUnder(dir)
      val maxPerPart =
        if (parts.isEmpty) files.size
        else parts.map(p => parquetsUnder(p).size).max
      (dir.getPath, files.size.toLong, files.map(_.length).sum,
        parts.size.toLong, maxPerPart.toLong)
    }
    rows.toDF("path", "n_files", "bytes", "n_partitions",
      "max_files_per_partition")
  }

  // ---- session cache -----------------------------------------------------

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def safe(s: String): String = s.replaceAll("[^A-Za-z0-9]", "_")

  /** A per-session path under java.io.tmpdir: the applicationId salt keeps
    * two concurrent sessions off one store root.
    */
  private def sessionPath(spark: SparkSession, name: String, dir: String): String =
    new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      name + "-" + safe(spark.sparkContext.applicationId) + "-" + safe(dir)).getPath

  /** A stored single-table index: built once per conf into the cache and
    * read back from parquet when the cache is on; built in-query
    * otherwise (`persist` keeps the caller's intermediate persist on that
    * side). The per-lane delta operators and the unified carve share
    * names, so every consumer of one index reads ONE store. Plan-only:
    * parity with the in-query build is spec-asserted per consumer.
    */
  private[graft] def storedIndex(spark: SparkSession, name: String, dir: String,
      persist: Boolean = false)(build: => DataFrame): DataFrame =
    GraftConf.benchArtifactDir match {
      case Some(root) =>
        spark.read.parquet(publish(spark, root, name, dir)(p =>
          build.write.mode("overwrite").parquet(p)))
      case None => if (persist) Intermediates.persist(build) else build
    }

  /** A DIRECTORY store root (IVF-PQ, postings, SBO/NB count tables —
    * multi-table stores the builders write themselves): published once
    * per conf when the cache is on, each store's own stamp still checked
    * on every read. Without the cache:
    * an unconditional build at a per-session path.
    */
  private[graft] def storedDirRoot(spark: SparkSession, name: String,
      dir: String)(build: String => Unit): String =
    GraftConf.benchArtifactDir match {
      case Some(root) => publish(spark, root, name, dir)(build)
      case None =>
        val path = sessionPath(spark, name, dir)
        build(path)
        path
    }

  /** A fresh MUTABLE copy of [[storedDirRoot]]'s pristine store — for
    * lifecycle rows whose measured op advances the store in place
    * (append/retract + swapRoot): the pristine build amortizes as index
    * time, the per-run copy is small file IO, and the mutation never
    * touches the shared artifact. Without the cache: build directly at
    * the scratch root.
    */
  private[graft] def storedDirCopy(spark: SparkSession, name: String,
      dir: String)(build: String => Unit): String = {
    val scratch = sessionPath(spark, name + "-scratch", dir)
    deleteDirRec(scratch)
    GraftConf.benchArtifactDir match {
      case Some(root) => copyDirRec(publish(spark, root, name, dir)(build), scratch)
      case None => build(scratch)
    }
    scratch
  }

  /** The conf half of the cache key: every `spark.graft.*` entry of the
    * calling session except the cache root itself, as a sorted `k=v`
    * list. Any knob a build can read is in it, so changing one rebuilds
    * every cached artifact (plan-only: never a different result) and
    * restoring it reads the earlier store back.
    */
  private def confKey(spark: SparkSession): String =
    spark.conf.getAll.toSeq
      .collect { case (k, v) if k.startsWith("spark.graft.") &&
        k != GraftConf.BenchArtifactDirKey => s"$k=$v" }
      .sorted.mkString(";")

  /** The one publish: `root/<name>-<dir>-<dir hash>-<conf hash>`, complete
    * iff it holds `_GRAFT_STORE_OK`. Distinct corpus dirs never collide
    * after sanitizing (e.g. /data/x-1 vs /data/x_1) thanks to the raw-dir
    * hash; the [[confKey]] hash keys the store to the conf it was built
    * under.
    */
  private def publish(spark: SparkSession, root: String, name: String,
      dir: String)(build: String => Unit): String = {
    val path = new java.io.File(root, name + "-" + safe(dir) + "-" +
      md5Hex(dir).take(8) + "-" + md5Hex(confKey(spark)).take(12)).getPath
    val marker = new java.io.File(path, "_GRAFT_STORE_OK")
    this.synchronized {
      if (!marker.exists()) {
        // Cross-PROCESS safety (the JVM-local lock only covers this
        // session): build into an applicationId-salted temp sibling
        // and atomically rename into the fingerprinted path, marker
        // riding inside the rename — a concurrent session sharing one
        // artifact root either sees nothing or a complete store, never
        // a half-built one. A build that throws leaves nothing behind.
        val tmp = new java.io.File(root, ".tmp-" + new java.io.File(path).getName +
          "-" + safe(spark.sparkContext.applicationId))
        deleteDirRec(tmp.getPath)
        try build(tmp.getPath)
        catch { case e: Throwable => deleteDirRec(tmp.getPath); throw e }
        new java.io.File(tmp, marker.getName).createNewFile()
        try
          java.nio.file.Files.move(tmp.toPath,
            java.nio.file.Paths.get(path),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case scala.util.control.NonFatal(_) if marker.exists() =>
            // another process completed the store between our check
            // and rename — theirs is whole (marker only ever arrives
            // via the rename); drop our duplicate build
            deleteDirRec(tmp.getPath)
          case scala.util.control.NonFatal(_) =>
            // target exists but incomplete (a store not written by this
            // publish): replace it wholesale, then move again. TWO
            // processes can take this branch at once — both deleteDirRec,
            // one move wins; the loser re-checks the marker (the winner's
            // store is whole, markers only ever arrive via the rename) and
            // discards its duplicate build instead of crashing.
            deleteDirRec(path)
            try
              java.nio.file.Files.move(tmp.toPath,
                java.nio.file.Paths.get(path),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch {
              case scala.util.control.NonFatal(e2) =>
                if (marker.exists()) deleteDirRec(tmp.getPath)
                else throw e2
            }
        }
      }
    }
    path
  }

  private def deleteDirRec(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val it = java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator()
      while (it.hasNext) java.nio.file.Files.delete(it.next())
    }
  }

  private def copyDirRec(src: String, dst: String): Unit = {
    val (s, d) = (java.nio.file.Paths.get(src), java.nio.file.Paths.get(dst))
    val it = java.nio.file.Files.walk(s).iterator()
    while (it.hasNext) {
      val p = it.next()
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
