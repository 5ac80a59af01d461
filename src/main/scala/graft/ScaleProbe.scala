package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale probe for the INCREMENTAL dedup path (SURVEY §4):
  *
  *  1. fix the base corpus, replicate the delta ×1/×4/×16 → per-crawl wall
  *     time must track DELTA size;
  *  2. fix the delta, replicate the base ×16 → per-crawl wall time must NOT
  *     track base size (the whole point of the stored index).
  *
  * Replica texts are SALTED (a copy-specific token merged into every other
  * word), so copies are not near-dups of each other or of the base — dup
  * DENSITY stays constant as volume grows, isolating the volume axis from
  * the candidate-pair axis (the r4 all-dup probe already stress-tested the
  * pair axis under the caps). Replica doc_ids are remapped into a high
  * range so they can never collide with base ids.
  *
  * `runMain graft.ScaleProbe [sfDir]` — prints one JSON line per
  * measurement; index builds are NOT timed (index time ≠ crawl time).
  */
object ScaleProbe {
  import graft.operators.Dedup

  /** k salted replicas (copy 0 unsalted, ids remapped high). */
  def replicate(df: DataFrame, k: Int): DataFrame =
    (0 until k).map { j =>
      val salted =
        if (j == 0) col("text")
        else expr(s"concat_ws(' ', transform(split(text, ' '), (w, i) -> " +
          s"CASE WHEN i % 2 = 1 THEN concat(w, ' zsalt${j}q') ELSE w END))")
      df.select((lit(1000000L) * (j + 1) + col("doc_id")).as("doc_id"),
        salted.as("text"))
    }.reduce(_ unionByName _)

  private def timeCrawl(spark: SparkSession, baseSets: DataFrame, baseBands: DataFrame,
      delta: DataFrame): Double = {
    Dedup.releaseIntermediates()
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    Dedup.dedupDeltaFrom(baseSets, baseBands, delta)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = sources.Tables.documents(spark, dir).select("doc_id", "text")
    val isDelta = col("doc_id") % Dedup.DeltaIdMod === 0
    // comma-separated probe-family filter for single-family reruns
    // (unset = all): minhash, embedding, fuzzy, winnow
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    def want(family: String): Boolean = only.forall(_.contains(family))
    if (!want("minhash")) {
      if (want("embedding")) embeddingProbes(spark)
      if (want("fuzzy")) fuzzyDecontamProbe(spark, docs)
      if (want("winnow")) winnowProbes(spark, docs)
      if (want("bpe")) bpeProbe(spark, docs)
      if (want("annappend")) annAppendProbe(spark)
      if (want("semdecon")) semDecontamProbe(spark)
      if (want("retract")) retractProbes(spark, dir)
      if (want("lmstore")) lmStoreProbes(spark, dir)
      if (want("warc")) warcProbes(spark)
      spark.stop()
      return
    }

    // index time (untimed): base shingled + banded ONCE, materialized the
    // way production persists it
    def buildIndex(baseDocs: DataFrame): (DataFrame, DataFrame) = {
      val sets = Dedup.hashedShingleSetsOf(baseDocs).localCheckpoint(true)
      val bands = Dedup.bandTableOf(sets).localCheckpoint(true)
      (sets, bands)
    }

    val (baseSets, baseBands) = buildIndex(docs.filter(!isDelta))
    val delta1 = docs.filter(isDelta).localCheckpoint(true)

    // warm-up (codegen/JVM, not billed — same policy as Bench)
    timeCrawl(spark, baseSets, baseBands, delta1)

    for (k <- Seq(1, 4, 16)) {
      val dk = replicate(delta1, k).localCheckpoint(true)
      val times = (1 to 3).map(_ => timeCrawl(spark, baseSets, baseBands, dk))
      println(s"""{"probe":"delta_x$k","delta_docs":${dk.count()},"sec_min":${times.min},"runs":[${times.mkString(",")}]}""")
    }

    val (bigSets, bigBands) = buildIndex(replicate(docs.filter(!isDelta), 16))
    val times = (1 to 3).map(_ => timeCrawl(spark, bigSets, bigBands, delta1))
    println(s"""{"probe":"base_x16_delta_x1","base_docs":${bigSets.count()},"sec_min":${times.min},"runs":[${times.mkString(",")}]}""")

    // same want() guards as the early-return branch — PROBE_ONLY=minhash
    // must run ONLY the minhash family, not minhash plus everything else
    if (want("embedding")) embeddingProbes(spark)
    if (want("fuzzy")) fuzzyDecontamProbe(spark, docs)
    if (want("winnow")) winnowProbes(spark, docs)
    if (want("bpe")) bpeProbe(spark, docs)
    if (want("annappend")) annAppendProbe(spark)
    if (want("semdecon")) semDecontamProbe(spark)
    if (want("retract")) retractProbes(spark, dir)
    if (want("lmstore")) lmStoreProbes(spark, dir)
    if (want("warc")) warcProbes(spark)
    spark.stop()
  }

  /** WARC front-door probe (round 17): decode throughput (members/s) on
    * synthetic multi-member crawl segments. The front door is one
    * file = one task, so the scaling claim is PER-FILE linearity:
    * members ×1/×4/×16 at a fixed 32-file fleet must hold members/s
    * flat (each file's decode is a single linear pass; the fleet is the
    * parallelism axis, exactly Common Crawl's layout). The second sweep
    * fixes volume and raises ROTTEN-member density 0/5/20% — quarantine
    * cost is the resync scan to the next gzip magic, so throughput must
    * degrade smoothly and every rotten member must surface as a
    * quarantine row (never vanish, never throw). Segment text is
    * LCG-generated (deterministic, incompressible enough to keep gzip
    * honest); rotten members are mid-deflate truncations, the dominant
    * real-world corruption (a cut-short PUT).
    */
  private def warcProbes(spark: SparkSession): Unit = {
    val files = 32
    def segText(f: Int, m: Int): String = {
      val sb = new java.lang.StringBuilder(2400)
      var x = (f * 100003L + m * 10007L + 12345L)
      var i = 0
      while (i < 300) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append('w').append(java.lang.Long.toHexString(x & 0xffffffL)).append(' ')
        i += 1
      }
      sb.toString
    }
    def gzMember(f: Int, m: Int): Array[Byte] = {
      val body = segText(f, m).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val rec = (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Record-ID: <urn:uuid:f$f-m$m>\r\n" +
        s"WARC-Target-URI: http://h$f.example/$m\r\n" +
        s"Content-Type: text/plain\r\nContent-Length: ${body.length}\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
        body ++ "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val bo = new java.io.ByteArrayOutputStream(rec.length)
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(rec); g.close()
      bo.toByteArray
    }
    def writeSegments(mpf: Int, rottenPct: Int): (String, Long, Long) = {
      val root = java.nio.file.Files.createTempDirectory("graft_warcprobe").toFile
      var members = 0L
      var rotten = 0L
      for (f <- 0 until files) {
        val out = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(new java.io.File(root, f"seg$f%03d.warc.gz")), 1 << 20)
        for (m <- 0 until mpf) {
          val g = gzMember(f, m)
          if ((f.toLong * mpf + m) % 100 < rottenPct) {
            out.write(g, 0, math.max(16, g.length / 2)) // mid-deflate cut
            rotten += 1
          } else out.write(g)
          members += 1
        }
        out.close()
      }
      (root.getPath, members, rotten)
    }
    def time(path: String): (Double, Long, Long) = {
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val (rec, bad) = sources.Warc.readWarc(spark, s"$path/*.warc.gz")
      // count BOTH sides in one job so members_per_sec reflects a single
      // decode pass (two separate count() actions would bill the gzip
      // decode — or at best a cache read — twice into the throughput)
      import org.apache.spark.sql.functions.lit
      val counts = rec.select(lit(1).as("g"))
        .unionAll(bad.select(lit(0).as("g")))
        .groupBy("g").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      ((System.nanoTime() - t0) / 1e9,
        counts.getOrElse(1, 0L), counts.getOrElse(0, 0L))
    }
    def cleanup(path: String): Unit = {
      val d = new java.io.File(path)
      Option(d.listFiles()).foreach(_.foreach(_.delete()))
      d.delete()
    }
    // warm-up (codegen/JVM, not billed — the Bench policy)
    locally { val (p, _, _) = writeSegments(16, 0); time(p); cleanup(p) }
    for ((k, mpf) <- Seq((1, 256), (4, 1024), (16, 4096))) {
      val (path, members, _) = writeSegments(mpf, 0)
      val runs = (1 to 3).map(_ => time(path))
      val best = runs.minBy(_._1)
      println(s"""{"probe":"warc_x$k","members":$members,"sec_min":${best._1},""" +
        s""""members_per_sec":${(members / best._1).round},"records":${best._2},""" +
        s""""quarantined":${best._3},"runs":[${runs.map(_._1).mkString(",")}]}""")
      cleanup(path)
    }
    for (pct <- Seq(0, 5, 20)) {
      val (path, members, rotten) = writeSegments(1024, pct)
      val runs = (1 to 3).map(_ => time(path))
      val best = runs.minBy(_._1)
      println(s"""{"probe":"warc_rot_$pct","members":$members,"rotten":$rotten,""" +
        s""""sec_min":${best._1},"members_per_sec":${(members / best._1).round},""" +
        s""""records":${best._2},"quarantined":${best._3},""" +
        s""""runs":[${runs.map(_._1).mkString(",")}]}""")
      cleanup(path)
    }
  }

  /** Retract probe (round 14): takedown cost must track the ERASED set
    * (S + its touched clusters), never the corpus — the O(S + touched)
    * claim `dedup_membership_retract` makes, measured. Stored membership
    * + the five lane indexes built once (untimed — index time, as
    * production amortizes it); retract sets of ×1/×4/×16 size run
    * through the retract core; then a base ×16 control (salted text
    * replicas + cyclically-shifted embedding replicas, so dup DENSITY
    * stays flat while volume grows) re-times the ×1 set — flat iff the
    * survivor re-pairing really reads only survivor-carried index keys.
    */
  private def retractProbes(spark: SparkSession, dir: String): Unit = {
    val docs = sources.Tables.documents(spark, dir).select("doc_id", "text")
      .localCheckpoint(true)
    val embs = sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    def ckpt(ix: Dedup.UnifiedIndexes): Dedup.UnifiedIndexes =
      Dedup.UnifiedIndexes(ix.exact.localCheckpoint(true),
        ix.media.localCheckpoint(true), ix.sets.localCheckpoint(true),
        ix.bands.localCheckpoint(true), ix.embs.localCheckpoint(true),
        ix.srpBands.localCheckpoint(true), ix.winnowFps.localCheckpoint(true))
    def build(d: DataFrame, e: DataFrame): (DataFrame, Dedup.UnifiedIndexes) = {
      val ix = ckpt(Dedup.unifiedIndexesOf(d, e))
      val stored = Dedup.clustersFromPairs(Dedup.unifiedPairsOf(d, e))
        .localCheckpoint(true)
      Dedup.releaseIntermediates()
      (stored, ix)
    }
    def timeRetract(stored: DataFrame, ix: Dedup.UnifiedIndexes,
        ids: DataFrame): Double = {
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Dedup.membershipRetractFrom(stored, ix, ids)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // BOTH stores built upfront, untimed — then the probe matrix runs
    // INTERLEAVED (r15; the r14 shape ran the control last, after the
    // JVM had fully warmed across nine timed runs, and the control read
    // FASTER than the ×1 probe — an inverted control that weakens the
    // O(S) claim it exists to support): each rep times every probe once
    // in sequence, so JIT/GC/codegen-cache drift lands on all probes
    // equally, with the same cache-equalization every rep (intermediates
    // released + catalog cache cleared inside timeRetract) and a
    // warm-up pass over every store first. min-of-5 reported.
    val (stored, ix) = build(docs, embs)
    val s1 = docs.filter(col("doc_id") % 400 === 0).select("doc_id")
      .localCheckpoint(true)
    // base ×16 control: salted text replicas (not near-dups of anything),
    // cyclically-shifted embedding replicas (direction changes, so no
    // cosine dups) — volume grows 16×, dup density stays flat, the ×1
    // retract set keeps its original touched clusters
    val bigDocs = docs.unionByName(
      replicate(docs, 16).filter(col("doc_id") >= 2000000L))
    val bigEmbs = embs.unionByName(
      (1 to 15).map { j =>
        embs.select((lit(1000000L) * j + col("vec_id")).as("vec_id"),
          expr(s"concat(slice(embedding, ${j + 1}, ${64 - j}), slice(embedding, 1, $j))")
            .as("embedding"))
      }.reduce(_ unionByName _))
    val (stored16, ix16) = build(bigDocs, bigEmbs)
    val probes: Seq[(String, () => Double)] =
      Seq((1, 400), (4, 100), (16, 25)).map { case (k, m) =>
        val sk = docs.filter(col("doc_id") % m === 0).select("doc_id")
          .localCheckpoint(true)
        (s"retract_x$k", () => timeRetract(stored, ix, sk))
      } :+ ("retract_base_x16_s_x1", () => timeRetract(stored16, ix16, s1))
    // SPARK_GRAFT_RETRACT_REPS=0 skips the timing laps (diagnostics-only
    // rerun — the counts below don't need timed laps)
    val reps = sys.env.getOrElse("SPARK_GRAFT_RETRACT_REPS", "5").toInt
    if (reps > 0) {
      probes.foreach { case (_, run) => run() } // warm-up lap, not billed
      val times: Map[String, Seq[Double]] =
        (1 to reps).flatMap(_ => probes.map { case (name, run) => name -> run() })
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      // every row carries BOTH sizes explicitly (retract-set AND base
      // corpus) — one ambiguous "docs" field whose meaning flips between
      // probe rows and the control misleads any parser comparing rows
      val nBase = docs.count()
      val nBig = bigDocs.count()
      val sizes: Map[String, (Long, Long)] = Map(
        "retract_x1" -> (docs.filter(col("doc_id") % 400 === 0).count(), nBase),
        "retract_x4" -> (docs.filter(col("doc_id") % 100 === 0).count(), nBase),
        "retract_x16" -> (docs.filter(col("doc_id") % 25 === 0).count(), nBase),
        "retract_base_x16_s_x1" ->
          (docs.filter(col("doc_id") % 400 === 0).count(), nBig))
      probes.foreach { case (name, _) =>
        val ts = times(name)
        val (rd, bd) = sizes(name)
        println(s"""{"probe":"$name","retract_docs":$rd,"base_docs":$bd,"sec_min":${ts.min},"runs":[${ts.mkString(",")}]}""")
      }
    }
    // structural diagnostics for the control-vs-×1 comparison: the ×16
    // store sees 16× band/fingerprint occupancy at constant dup density,
    // so index-time hot-key caps and df eligibility drop MORE keys — the
    // same retract set's survivor neighborhood (touched clusters,
    // survivor rows, regenerated candidate pairs) can therefore be
    // SMALLER against the bigger store, and the delta-sized CC converges
    // in fewer rounds. These counts make that visible next to the
    // timings instead of leaving an "inverted control" unexplained.
    def diag(tag: String, st: DataFrame, ixd: Dedup.UnifiedIndexes): Unit = {
      val touched = st.join(s1, Seq("doc_id")).select("cluster_id").distinct()
      val survivors = st.join(touched, Seq("cluster_id"))
        .join(s1, Seq("doc_id"), "left_anti").select("doc_id")
      val pairs = Dedup.unifiedPairsAmong(ixd, survivors).count()
      println(s"""{"probe":"retract_diag_$tag","touched_clusters":${touched.count()},"survivor_docs":${survivors.count()},"survivor_pairs":$pairs}""")
      Dedup.releaseIntermediates()
    }
    diag("base_x1", stored, ix)
    diag("base_x16", stored16, ix16)
  }

  /** LM/NB store lifecycle probe (round 16): [[graft.operators.LmIndex]]
    * appendToSbo/retractFromSbo and [[graft.operators.NbIndex]]
    * appendToNb claim merge work of O(crawl grams + touched stored keys)
    * — crawl ×1/×4/×16 against a fixed base store must track CRAWL size.
    * The base ×16 control re-times the ×1 crawl against a 16× store:
    * the MERGE side must stay flat, but the measured wall time also
    * carries [[graft.sources.Sinks.swapRoot]]'s full-table rewrite (the
    * LSM trade the repo documents — production batches lifecycle ops),
    * which IS O(stored keys); the `lmstore_diag` rows print each
    * store's table sizes so the control's write share is explainable
    * next to the timings instead of reading as a broken claim.
    *
    * Discipline follows [[retractProbes]]: stores built upfront
    * (untimed), every timed run mutates a fresh COPY of its pristine
    * store (copy untimed), probes run INTERLEAVED per rep with a
    * warm-up lap, min-of-reps reported, both sizes explicit per row.
    */
  private def lmStoreProbes(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{LmIndex, NbIndex}
    val docs = sources.Tables.documents(spark, dir)
      .select("doc_id", "text", "lang").localCheckpoint(true)
    val isD = col("doc_id") % Dedup.DeltaIdMod === 0
    val base = docs.filter(!isD).localCheckpoint(true)
    val crawl1 = docs.filter(isD).localCheckpoint(true)
    // replicate keeping the NB label; salted copies carry NEW gram/word
    // types, so touched-key volume genuinely scales with the crawl
    def replicateL(df: DataFrame, k: Int): DataFrame =
      (0 until k).map { j =>
        val salted =
          if (j == 0) col("text")
          else expr(s"concat_ws(' ', transform(split(text, ' '), (w, i) -> " +
            s"CASE WHEN i % 2 = 1 THEN concat(w, ' zsalt${j}q') ELSE w END))")
        df.select((lit(1000000L) * (j + 1) + col("doc_id")).as("doc_id"),
          salted.as("text"), col("lang"))
      }.reduce(_ unionByName _)
    def freshDir(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-probe-$tag").toString
    def copyDir(src: String, dst: String): Unit = {
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
    // pristine stores, untimed (index time, as production amortizes it)
    val sboBase = freshDir("sbobase")
    LmIndex.writeSboDocs(base.select("doc_id", "text"), sboBase)
    val sboFull = freshDir("sbofull")
    LmIndex.writeSboDocs(docs.select("doc_id", "text"), sboFull)
    val base16 = base.unionByName(
      replicateL(base, 16).filter(col("doc_id") >= 2000000L))
      .localCheckpoint(true)
    val sboBase16 = freshDir("sbobase16")
    LmIndex.writeSboDocs(base16.select("doc_id", "text"), sboBase16)
    val full16 = docs.unionByName(
      replicateL(docs, 16).filter(col("doc_id") >= 2000000L))
      .localCheckpoint(true)
    val sboFull16 = freshDir("sbofull16")
    LmIndex.writeSboDocs(full16.select("doc_id", "text"), sboFull16)
    val nbBase = freshDir("nbbase")
    NbIndex.writeNbDocs(base, nbBase, "words")
    val nbBase16 = freshDir("nbbase16")
    NbIndex.writeNbDocs(base16, nbBase16, "words")
    val crawls: Map[Int, DataFrame] = Seq(1, 4, 16).map(k =>
      k -> replicateL(crawl1, k).localCheckpoint(true)).toMap
    val retracts: Map[Int, DataFrame] = Seq((1, 400), (4, 100), (16, 25)).map {
      case (k, m) =>
        k -> docs.filter(col("doc_id") % m === 0).localCheckpoint(true)
    }.toMap
    def timedOnCopy(pristine: String, op: String => Unit): Double = {
      val scratch = freshDir("scratch")
      copyDir(pristine, scratch)
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      op(scratch)
      (System.nanoTime() - t0) / 1e9
    }
    val nBase = base.count(); val nBase16 = base16.count()
    val nFull = docs.count(); val nFull16 = full16.count()
    val probes: Seq[(String, Long, Long, () => Double)] =
      Seq(1, 4, 16).map { k =>
        (s"sbo_append_x$k", crawls(k).count(), nBase, () =>
          timedOnCopy(sboBase, p =>
            LmIndex.appendToSbo(spark, p, crawls(k).select("doc_id", "text"))))
      } ++ Seq(
        ("sbo_append_base_x16_crawl_x1", crawls(1).count(), nBase16, () =>
          timedOnCopy(sboBase16, p =>
            LmIndex.appendToSbo(spark, p, crawls(1).select("doc_id", "text"))))) ++
      Seq(1, 4, 16).map { k =>
        (s"sbo_retract_x$k", retracts(k).count(), nFull, () =>
          timedOnCopy(sboFull, p =>
            LmIndex.retractFromSbo(spark, p, retracts(k).select("doc_id", "text"))))
      } ++ Seq(
        ("sbo_retract_base_x16_s_x1", retracts(1).count(), nFull16, () =>
          timedOnCopy(sboFull16, p =>
            LmIndex.retractFromSbo(spark, p, retracts(1).select("doc_id", "text"))))) ++
      Seq(1, 4, 16).map { k =>
        (s"nb_append_x$k", crawls(k).count(), nBase, () =>
          timedOnCopy(nbBase, p => NbIndex.appendToNb(spark, p, crawls(k))))
      } ++ Seq(
        ("nb_append_base_x16_crawl_x1", crawls(1).count(), nBase16, () =>
          timedOnCopy(nbBase16, p => NbIndex.appendToNb(spark, p, crawls(1)))))
    val reps = sys.env.getOrElse("SPARK_GRAFT_LIFECYCLE_REPS", "5").toInt
    if (reps > 0) {
      probes.foreach { case (_, _, _, run) => run() } // warm-up lap, unbilled
      val times: Map[String, Seq[Double]] =
        (1 to reps).flatMap(_ => probes.map { case (n, _, _, run) => n -> run() })
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      probes.foreach { case (name, deltaDocs, baseDocs, _) =>
        val ts = times(name)
        println(s"""{"probe":"$name","delta_docs":$deltaDocs,"base_docs":$baseDocs,"sec_min":${ts.min},"runs":[${ts.mkString(",")}]}""")
      }
    }
    // structural diagnostics: stored key counts per store — the swapRoot
    // rewrite share of the control rows scales with THESE, by design
    def sboRows(p: String): Long =
      Seq("c1", "c2", "c3").map(t => spark.read.parquet(s"$p/$t").count()).sum
    def nbRows(p: String): Long =
      Seq("cw", "cdc").map(t => spark.read.parquet(s"$p/$t").count()).sum
    println(s"""{"probe":"lmstore_diag","sbo_base_rows":${sboRows(sboBase)},"sbo_base16_rows":${sboRows(sboBase16)},"sbo_full_rows":${sboRows(sboFull)},"sbo_full16_rows":${sboRows(sboFull16)},"nb_base_rows":${nbRows(nbBase)},"nb_base16_rows":${nbRows(nbBase16)}}""")
  }

  /** ANN append probe (round 10): the encode-only append path must cost
    * DELTA work, not corpus work. Base store built once (untimed — index
    * time, as production amortizes it), then per "crawl":
    * `appendToIvfPq` of a 1/16-sized delta vs a full `writeIvfPqFrom`
    * rebuild over base∪delta. The append re-trains nothing and never
    * reads the existing code table, so its time must sit far under the
    * rebuild's (which pays coarse + PQ training and a full re-encode);
    * that gap is the per-crawl economics of the stored ANN artifact.
    */
  private def annAppendProbe(spark: SparkSession): Unit = {
    import graft.operators.{AnnIndex, Dedup}
    def freshDir(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-probe-$tag").toString
    val base = syntheticEmb(spark, 8000).localCheckpoint(true)
    val delta = syntheticEmb(spark, 500)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val basePath = freshDir("annbase")
    AnnIndex.writeIvfPqFrom(base, basePath) // index time, untimed
    def timed(f: () => Unit): Double = {
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    def copyDir(src: String, dst: String): Unit = {
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
    // each rep appends into a fresh COPY of the base store so appends never
    // accumulate in the measured store; rep 0 is the warm-up, not billed
    val appendTimes = (0 to 3).map { _ =>
      val p = freshDir("annapp")
      copyDir(basePath, p)
      timed(() => AnnIndex.appendToIvfPq(spark, p, delta))
    }.drop(1)
    val rebuildTimes = (1 to 3).map { _ =>
      val p = freshDir("annfull")
      timed(() => AnnIndex.writeIvfPqFrom(base.unionByName(delta), p))
    }
    println(f"""{"probe":"ann_append","delta_vecs":500,"base_vecs":8000,"append_sec_min":${appendTimes.min}%.2f,"rebuild_sec_min":${rebuildTimes.min}%.2f}""")
    Dedup.releaseIntermediates()
  }

  /** BPE-trainer budget probe (round 10): train at REAL merge budgets over
    * the sf corpus vocabulary — 250 then 1000 merges. The r9 trainer kept
    * the encoding as an iteration-deep nested `replace()` expression
    * re-evaluated from `enc0` every round: O(m²) total replace
    * evaluations and an m-deep expression tree that stops compiling long
    * before a production 30k–60k budget. The r10 trainer re-materializes
    * the encoding every `Bpe.RematEvery` merges (constant depth, O(m)
    * vocab scans), so per-merge seconds must be ~FLAT between the two
    * budgets — that flatness is what this probe asserts; a quadratic
    * trainer shows ~4× the per-merge cost at the 1000 budget.
    */
  private def bpeProbe(spark: SparkSession, docs: DataFrame): Unit = {
    import graft.operators.{Bpe, Dedup}
    // The sf corpus vocabulary EXHAUSTS after <100 merges (its synthetic
    // word list is small and words are short), so it cannot exercise a
    // real budget. Train instead on a synthetic high-diversity
    // vocabulary: 60k distinct 32-hex-char words over the 16-symbol hex
    // alphabet — merge supply far exceeds the probed budgets, as a real
    // multilingual corpus's would.
    val synth = spark.range(60000)
      .select(md5(concat(lit("bpe|"), col("id").cast("string"))).as("text"))
      .localCheckpoint(true)
    def train(m: Int): (Int, Double) = {
      spark.conf.set("spark.graft.bpe.merges", m.toString)
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val (_, merges) = Bpe.bpeTrainedOf(synth)
      (merges.length, (System.nanoTime() - t0) / 1e9)
    }
    train(50) // warm-up (codegen/JVM), untimed — same policy as Bench
    for (m <- Seq(250, 1000)) {
      val (got, sec) = train(m)
      println(f"""{"probe":"bpe_train_m$m","merges":$got,"sec":$sec%.2f,"ms_per_merge":${sec * 1000 / math.max(1, got)}%.1f}""")
    }
    spark.conf.unset("spark.graft.bpe.merges")
    Dedup.releaseIntermediates()
  }

  /** Winnow-containment probes (round 9), two axes:
    *
    *  1. VOLUME (`winnow_x{1,4,16}`): salted replicas — each copy
    *     reproduces the corpus's internal containment pairs under its own
    *     salt, so dup density stays constant while volume grows k×. Wall
    *     time and pair count must track volume ~linearly (fingerprinting
    *     is one linear projection; the pair join is capped per fp).
    *  2. DENSITY (`winnow_alldup_x{4,16,32}`): UNSALTED replicas drive
    *     every fingerprint's doc-frequency to k× its original. Once df
    *     crosses `spark.graft.winnow.fpCap` (16) the fingerprint drops
    *     from pair generation entirely — so candidate volume must stay
    *     CAPPED as replication grows, and at k=32 (every df ≥ 32 > cap)
    *     the pair count collapses to ZERO instead of exploding
    *     quadratically. That collapse IS the cap doing its 100 TB job.
    */
  private def winnowProbes(spark: SparkSession, docs: DataFrame): Unit = {
    import graft.operators.{Dedup, TextAnalysis}
    def timed(df: () => DataFrame): Double = {
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      df().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (k <- Seq(1, 4, 16)) {
      val corpus = replicate(docs, k).localCheckpoint(true)
      timed(() => TextAnalysis.dedupWinnowContainOf(corpus)) // warm-up
      val times = (1 to 3).map(_ => timed(() => TextAnalysis.dedupWinnowContainOf(corpus)))
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      val pairs = TextAnalysis.dedupWinnowContainOf(corpus).count()
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      println(s"""{"probe":"winnow_x$k","docs":${corpus.count()},"pairs":$pairs,"sec_min":${times.min},"runs":[${times.mkString(",")}]}""")
    }
    for (k <- Seq(4, 16, 32)) {
      val corpus = (0 until k).map(j =>
        docs.select((lit(1000000L) * (j + 1) + col("doc_id")).as("doc_id"), col("text")))
        .reduce(_ unionByName _).localCheckpoint(true)
      timed(() => TextAnalysis.dedupWinnowContainOf(corpus)) // warm-up
      val times = (1 to 3).map(_ => timed(() => TextAnalysis.dedupWinnowContainOf(corpus)))
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      val pairs = TextAnalysis.dedupWinnowContainOf(corpus).count()
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      println(s"""{"probe":"winnow_alldup_x$k","docs":${corpus.count()},"pairs":$pairs,"sec_min":${times.min},"runs":[${times.mkString(",")}]}""")
    }
  }

  /** Fuzzy-decontamination probe: benchmark FIXED, train side ×1/×4/×16
    * (salted replicas — copy 0 keeps the original texts, so the flagged
    * count must stay exactly constant while volume grows). Per-sweep wall
    * time must track TRAIN volume linearly: the eval side broadcasts, the
    * train side streams through two broadcast joins, and per-train-doc
    * candidate fan-out is bounded by the benchmark — there is nothing
    * super-linear to excite.
    */
  private def fuzzyDecontamProbe(spark: SparkSession, docs: DataFrame): Unit = {
    import graft.operators.{Curation, Dedup}
    val isEvalOrig = col("doc_id") % Curation.FuzzyEvalMod === 0
    val evalDocs = docs.filter(isEvalOrig).localCheckpoint(true)
    val train1 = docs.filter(!isEvalOrig)
    // replicas live in the >= 1e6 id range: eval membership = original
    // benchmark ids only, at every scale
    val isEval = col("doc_id") % Curation.FuzzyEvalMod === 0 &&
      col("doc_id") < 1000000L
    def timed(all: DataFrame): Double = {
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Curation.decontaminateFuzzyFrom(all, isEval)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (k <- Seq(1, 4, 16)) {
      val all = evalDocs.unionByName(replicate(train1, k)).localCheckpoint(true)
      timed(all) // warm-up
      val times = (1 to 3).map(_ => timed(all))
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      val out = Curation.decontaminateFuzzyFrom(all, isEval)
      val flagged = out.filter(col("contaminated")).count()
      val trainDocs = out.count()
      Dedup.releaseIntermediates()
      println(s"""{"probe":"fuzzy_x$k","train_docs":$trainDocs,"flagged":$flagged,"sec_min":${times.min},"runs":[${times.mkString(",")}]}""")
    }
  }

  /** Semantic-decontamination probe (round 10): corpus ×1/×4/×16 against
    * a FIXED benchmark (the `vec_id < 500 ∩ % FuzzyEvalMod` slice of the
    * synthetic embedding corpus). The rung is one broadcast nested-loop
    * scan of exact dots, so cost must scale LINEARLY with the corpus at a
    * fixed benchmark, and per-train fan-out is bounded by the benchmark —
    * there is nothing super-linear to excite; the probe certifies the
    * shape instead of asserting it.
    */
  private def semDecontamProbe(spark: SparkSession): Unit = {
    import graft.operators.{Curation, Dedup}
    val isEval = col("vec_id") % Curation.FuzzyEvalMod === 0 &&
      col("vec_id") < 500L
    def timed(embs: DataFrame): Double = {
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Curation.decontaminateSemanticFrom(embs, isEval)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (k <- Seq(1, 4, 16)) {
      val embs = syntheticEmb(spark, 500 * k).localCheckpoint(true)
      timed(embs) // warm-up, not billed
      val times = (1 to 3).map(_ => timed(embs))
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      val out = Curation.decontaminateSemanticFrom(embs, isEval)
      val flagged = out.filter(col("contaminated")).count()
      val trainDocs = out.count()
      Dedup.releaseIntermediates()
      println(s"""{"probe":"semdecon_x$k","train_docs":$trainDocs,"flagged":$flagged,"sec_min":${times.min},"runs":[${times.mkString(",")}]}""")
    }
  }

  /** Deterministic synthetic embedding corpus: n pseudo-random unit vectors
    * (hash-seeded, 64-dim) with a FIXED planted-pair density — every
    * vec_id ≡ 1 (mod 25) is a perturbed copy of its predecessor
    * (cos ≈ 0.88–0.97). Generated in-engine so the probe scales the corpus
    * without synthesizing files; the probe raises cosineTau to 0.7 so the
    * random-background pair rate (cos ~ N(0, 1/64)) is ~10⁻⁸ per pair and
    * the quadratic background never pollutes the planted-density axis.
    */
  def syntheticEmb(spark: SparkSession, n: Int): DataFrame = {
    val dims = 64
    def raw(src: String, salt: String) =
      s"transform(sequence(0, ${dims - 1}), d -> cast(pmod(hash(concat('$salt', cast($src as string), '|', cast(d as string))), 2001) - 1000 as double) / 1000.0d)"
    def unit(v: String) =
      s"transform($v, x -> x / sqrt(aggregate($v, 0.0d, (a, x) -> a + x * x)))"
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"""case when id % 25 = 1 and id > 0 then
        ${unit(s"zip_with(${raw("id - 1", "e|")}, ${raw("id", "z|")}, (x, y) -> x + 0.35d * y)")}
        else ${unit(raw("id", "e|"))} end""").as("embedding"))
  }

  /** Embedding-lane probes (round 7): corpus ×1/×4/×16 at fixed planted
    * density. SRP applies the deployment banding rule
    * `bandBits ≈ log2(corpus / cap)` per scale (4/6/8 bits at constant 4
    * bands), so per-bucket occupancy — and with it candidate volume PER
    * DOCUMENT — stays flat as the corpus grows. `srp_x$k` times the lane
    * as it runs (the bucket kernel, `srpPairsOf`, which scores each cool
    * bucket's pairs in-row) and reports `candidates` from the probe-join
    * reference (`srpCandidates`): the distinct pairs the kernel scores
    * (once per band they meet in), never materialised as rows there. IVF
    * applies the k ≈ √n rule. Quantizer training is part of the timed IVF
    * run (unlike the stored MinHash index, the trained quantizer is
    * rebuilt per corpus epoch); SRP needs no training at all — that
    * contrast is the point of shipping both.
    */
  private def embeddingProbes(spark: SparkSession): Unit = {
    import graft.operators.Dedup
    def timed(df: () => DataFrame): Double = {
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      df().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    spark.conf.set("spark.graft.dedup.cosineTau", "0.7")
    try {
      for ((k, bandBits) <- Seq((1, 4), (4, 6), (16, 8))) {
        val n = 500 * k
        val embs = syntheticEmb(spark, n).localCheckpoint(true)
        // SRP: constant 4 bands; bandBits per the occupancy rule
        spark.conf.set("spark.graft.dedup.srpBandBits", bandBits.toString)
        spark.conf.set("spark.graft.dedup.srpBits", (4 * bandBits).toString)
        timed(() => Dedup.srpPairsOf(embs)) // warm-up, not billed
        val srpTimes = (1 to 3).map(_ => timed(() => Dedup.srpPairsOf(embs)))
        Dedup.releaseIntermediates(); spark.catalog.clearCache()
        val cands = Dedup.srpCandidates(embs).count()
        Dedup.releaseIntermediates(); spark.catalog.clearCache()
        val pairs = Dedup.srpPairsOf(embs).count()
        println(s"""{"probe":"srp_x$k","docs":$n,"band_bits":$bandBits,"candidates":$cands,"pairs":$pairs,"sec_min":${srpTimes.min},"runs":[${srpTimes.mkString(",")}]}""")
        // IVF: k ~ sqrt(n); quantizer trained inside the timed run
        spark.conf.set("spark.graft.kmeans.k", math.ceil(math.sqrt(n)).toInt.toString)
        timed(() => Dedup.dedupEmbeddingIvfOf(embs)) // warm-up
        val ivfTimes = (1 to 3).map(_ => timed(() => Dedup.dedupEmbeddingIvfOf(embs)))
        Dedup.releaseIntermediates(); spark.catalog.clearCache()
        val ivfPairs = Dedup.dedupEmbeddingIvfOf(embs).count()
        println(s"""{"probe":"ivf_x$k","docs":$n,"kmeans_k":${math.ceil(math.sqrt(n)).toInt},"pairs":$ivfPairs,"sec_min":${ivfTimes.min},"runs":[${ivfTimes.mkString(",")}]}""")
      }
    } finally {
      Seq("spark.graft.dedup.cosineTau", "spark.graft.dedup.srpBandBits",
        "spark.graft.dedup.srpBits", "spark.graft.kmeans.k")
        .foreach(spark.conf.unset)
      Dedup.releaseIntermediates()
    }
  }
}
