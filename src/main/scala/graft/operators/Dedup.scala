package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import ArtifactCatalog.{BandingStamp, SrpStamp, storedIndex}

/** Corpus deduplication family (SURVEY §2C) — the hygiene operators a
  * 100 TB training-data pipeline runs before anything else.
  *
  * Scale design:
  *  - exact: one hash shuffle, map-side partial agg.
  *  - n-gram Jaccard / MinHash-LSH: the candidate set is generated by a
  *    shingle/band equi-join (never an n² cross join); hot shingles are
  *    capped at document-frequency ≤ [[HotShingleDf]] exactly like
  *    production near-dup pipelines drop stopword shingles, bounding the
  *    per-key join fan-out at any corpus size.
  *  - SimHash: stateless signature projection + one groupBy(doc).
  *  - embedding: pair generation is blocked on the coarse cluster id
  *    (IVF-style); no global cross join.
  *
  * All hashing is md5 (bit-identical in the DuckDB oracle); hex prefixes
  * compare lexicographically == numerically (fixed width, lowercase).
  */
object Dedup {

  // Scale/recall knobs are conf-driven (spark.graft.dedup.*, defaults = the
  // test-scale values): a deployment tunes shingle width, banding, taus and
  // skew caps per corpus without a recompile, and the oracle SQL generators
  // below read the SAME accessors so cross-engine parity holds at any
  // setting (GraftConfSpec exercises non-default values).
  /** Shingle width in words for Jaccard/MinHash. */
  def ShingleWords: Int = GraftConf.shingleWords
  /** Drop shingles appearing in more than this many docs (skew guard). */
  def HotShingleDf: Int = GraftConf.hotShingleDf
  /** LSH banding; MinHash permutation count = bands × rows. */
  def Bands: Int = GraftConf.minhashBands
  def RowsPerBand: Int = GraftConf.minhashRowsPerBand
  def MinHashK: Int = Bands * RowsPerBand
  /** Jaccard thresholds. */
  def JaccardTau: Double = GraftConf.jaccardTau
  def MinHashTau: Double = GraftConf.minhashTau
  /** Embedding near-dup cosine threshold (tuned to the synthetic corpus). */
  def CosineTau: Double = GraftConf.cosineTau
  /** Drop band buckets holding more than this many entries (skew guard — the
    * band-join analog of [[HotShingleDf]], bounding per-bucket join fan-out).
    * For MinHash the cap counts documents; for SimHash banding it counts
    * DISTINCT signatures (identical-signature clusters band as ONE
    * representative, so no dup cluster — however large — can trip the cap;
    * see [[dedupSimhashPairs]]).
    */
  def HotBandDocs: Int = GraftConf.hotBandDocs

  /** Persist for wide dedup intermediates (shingle arrays, band tables) that
    * are scanned from both sides of a self-join. MEMORY_AND_DISK locally; at
    * 100 TB set `spark.graft.dedup.storageLevel=DISK_ONLY` so full shingle
    * arrays never compete with shuffle/exec memory (production would
    * checkpoint here).
    *
    * Persisted intermediates are tracked; long-lived sessions call
    * [[releaseIntermediates]] after the terminal action (Verify/Bench do, as
    * does `spark.catalog.clearCache()`), otherwise each dedup invocation pins
    * its intermediates for the life of the session.
    */
  private def persistIntermediate(df: DataFrame): DataFrame = Intermediates.persist(df)

  /** Unpersist every intermediate pinned by graft operators since the last
    * call (dedup tables, the trained IVF quantizer). Safe to call while
    * results are still referenced (Spark recomputes if re-used); call after
    * the terminal action.
    */
  def releaseIntermediates(): Unit = Intermediates.release()

  /** Boilerplate-normalized text: the synthetic corpus marks near-dups with
    * an injected `dup` token — strip it + collapse whitespace (CCNet-style
    * boilerplate removal before exact hashing).
    */
  private[graft] def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "\\bdup\\b", ""), " +", " "))

  private[graft] val normTextSql =
    "trim(regexp_replace(regexp_replace(text, '\\bdup\\b', '', 'g'), ' +', ' ', 'g'))"

  /** `dedup_exact`: md5 clusters over normalized content; clusters>1 only. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("content_hash", md5(normText(col("text"))))
      .groupBy(col("content_hash"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"),
        expr("array_join(transform(array_sort(collect_list(doc_id)), x -> cast(x as string)), ',')")
          .as("members"))
      .filter(col("n_docs") > 1)
      .contractOrderBy("content_hash")

  val dedupExactSql: String =
    s"""SELECT md5($normTextSql) AS content_hash,
       |  count(*) AS n_docs, min(doc_id) AS canonical_doc,
       |  string_agg(doc_id, ',' ORDER BY doc_id) AS members
       |FROM documents
       |GROUP BY content_hash
       |HAVING count(*) > 1
       |ORDER BY content_hash""".stripMargin

  /** Distinct word-`ShingleWords`-gram shingle set per doc, as a column over
    * `ws` (the split word array).
    */
  // Guarded for docs shorter than the shingle width: Spark 4 runs ANSI mode
  // by default, where element_at past the array end THROWS (it would also
  // silently emit a partial shingle with ANSI off) — short docs get an
  // empty shingle set in BOTH engines instead.
  private def shinglesExpr: String = {
    val parts = (1 to ShingleWords).map(k => s"element_at(ws, i + $k)").mkString(", ")
    s"""CASE WHEN size(ws) >= $ShingleWords
       | THEN array_distinct(transform(sequence(0, size(ws) - $ShingleWords), i -> concat_ws(' ', $parts)))
       | ELSE array() END""".stripMargin.replace("\n", "")
  }

  private def shinglesSqlExpr: String = {
    val parts = (0 until ShingleWords).map(k => s"ws[i + $k]").mkString(" || ' ' || ")
    s"""CASE WHEN len(ws) >= $ShingleWords
       | THEN list_distinct(list_transform(generate_series(1, len(ws) - ${ShingleWords - 1}), i -> $parts))
       | ELSE CAST([] AS VARCHAR[]) END""".stripMargin.replace("\n", "")
  }

  /** (doc_id, sh: array<string>) shingle sets. */
  def shingleSets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("sh", expr(shinglesExpr))
      .select("doc_id", "sh")

  /** (doc_id, hs: array<long>) 60-bit md5-hashed shingle sets — the form
    * every shuffle-crossing stage uses: an 8-byte long per shingle instead
    * of the ~20-byte string, so candidate joins and Jaccard verifies move
    * less than half the bytes (distinct strings ↔ distinct hashes up to
    * 60-bit md5 collisions, i.e. exactly).
    */
  def hashedShingleSets(spark: SparkSession, dir: String): DataFrame =
    hashedShingleSetsOf(Tables.documents(spark, dir))

  /** [[hashedShingleSets]] over any (doc_id, text) relation — the seam
    * [[dedupDelta]] uses to shingle base and delta snapshots separately.
    */
  def hashedShingleSetsOf(docs: DataFrame): DataFrame =
    // graft_gram_hash fuses gram build + md5 + prefix-long into one native
    // pass (r18 — was concat_ws per window, then md5 hex + substr + conv per
    // string shingle); distinct moves AFTER hashing, equal by the
    // distinct-strings ↔ distinct-hashes identity the Scaladoc above states
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("hs",
        expr(s"array_distinct(graft_gram_hash(ws, $ShingleWords, 15))"))
      .select("doc_id", "hs")

  private def shingleCte = shingleCteFor("documents")

  /** [[shingleCte]] over an arbitrary (doc_id, text) relation — the
    * base-only oracle seam (`dedup_keep_unified_delta` derives the stored
    * base membership from `base_docs`, never the full corpus).
    */
  private def shingleCteFor(rel: String) =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $rel),
       |s AS (SELECT doc_id, $shinglesSqlExpr AS sh FROM d)""".stripMargin

  private def hashedShingleCte = hashedShingleCteFor("documents")

  private def hashedShingleCteFor(rel: String) =
    s"""${shingleCteFor(rel)},
       |hsets AS (
       |  SELECT doc_id,
       |    list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
       |  FROM s)""".stripMargin

  /** `dedup_ngram_jaccard`: similar pairs via shingle-join candidates +
    * exact Jaccard verify. The only shuffle keys are (shingle) then (pair).
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    shingleJoinPairsOf(persistIntermediate(hashedShingleSets(spark, dir)))
      .filter(col("jaccard") >= JaccardTau)
      .select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
      .contractOrderBy("doc_a", "doc_b")

  /** The exact shingle-join pair population over a PERSISTED hashed
    * shingle-set table, τ-UNFILTERED — (doc_a, doc_b, inter, na, nb,
    * 4-dp jaccard). One core shared by `dedup_ngram_jaccard` (its τ) and
    * `minhash_recall_report` (the banding-loss ground truth at the
    * MinHash τ), so the truth population can never drift from the
    * shingle-join query.
    */
  private[graft] def shingleJoinPairsOf(sets: DataFrame): DataFrame = {
    // explode the 8-byte shingle HASHES, not the strings — the candidate
    // join and df-count shuffle on longs
    val exploded = sets.select(col("doc_id"), explode(col("hs")).as("shingle"))
    // skew guard: drop shingles shared by too many docs. groupBy gives
    // map-side partial aggregation and the (small) rare-shingle list joins
    // back broadcast under AQE — cheaper than a window, which would shuffle
    // AND sort every exploded shingle row.
    val rareShingles = exploded.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= HotShingleDf)
      .select("shingle")
    val rare = exploded.join(rareShingles, "shingle")
    val pairs = rare.as("a").join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sets.select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
  }

  def dedupNgramJaccardSql: String =
    s"""$hashedShingleCte,
       |e AS (SELECT doc_id, unnest(hs) AS shingle FROM hsets),
       |rare AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM e)
       |  WHERE df <= $HotShingleDf
       |),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |sizes AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_sh FROM hsets)
       |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter, sa.n_sh AS na, sb.n_sh AS nb,
       |  round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
       |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) >= $JaccardTau
       |ORDER BY doc_a, doc_b""".stripMargin

  /** `dedup_minhash_lsh`: 16-perm MinHash signatures, 4×4 banded LSH
    * bucketing for candidates, exact Jaccard verify within buckets.
    */
  /** XOR-mix seeds for the permutation family: md5 randomizes the shingle,
    * each seed's XOR is a bijection of the 60-bit hash space — one md5 per
    * shingle instead of MinHashK of them (16× less hashing at 100 TB).
    */
  def MinHashSeeds: Seq[Long] =
    (0 until MinHashK).map(i => (i.toLong * 0x9E3779B97F4A7C15L) & 0x0FFFFFFFFFFFFFFFL)

  /** MinHash-sign and LSH-band any hashed-shingle-set relation:
    * (doc_id, band_id, band_hash), one row per doc per band. This IS the
    * persisted band index of [[dedupDelta]] — banding base and delta
    * separately and unioning equals banding their union, because the
    * signature of a doc depends on nothing but its own shingles.
    *
    * Shingle-less (too-short) docs can't be near-dup candidates; keeping
    * them would put every empty signature in one md5('') band bucket and
    * divide by an empty union in the Jaccard verify (ANSI error).
    */
  /** `keepSets = true` carries the `hs` shingle array alongside each band
    * row — the streaming delta path needs it (re-attaching sets to a
    * STREAM's own band rows would be a stream-stream self-join; carrying
    * the column through the stateless projection avoids any join state).
    * Batch paths keep the default: band rows stay narrow through shuffles.
    */
  /** The banding-conf fingerprint a band index is stamped with: every knob
    * that changes band hashes (shingle width, band count, rows per band —
    * the seed family is a fixed function of bands×rows). [[dedupDeltaFrom]]
    * fails fast when a stored index's fingerprint disagrees with the live
    * conf; without the check a knob drift between index time and crawl time
    * silently mismatches every band hash and near-dups vanish with no
    * error. `hotBandDocs` is deliberately NOT part of the fingerprint — the
    * cap filters candidates at query time and the delta path recomputes
    * occupancy from stored+delta counts, so it may be retuned per crawl.
    */
  def bandingFingerprint: String =
    s"shingleWords=$ShingleWords;bands=$Bands;rowsPerBand=$RowsPerBand;seedFamily=xormix-golden"

  def bandTableOf(sets: DataFrame, keepSets: Boolean = false): DataFrame = {
    // snapshot conf-driven knobs once: a conf change mid-build must not
    // desync the signature columns from the band grouping
    val (bands, rowsPerBand, seeds) = (Bands, RowsPerBand, MinHashSeeds)
    var sigs = sets.filter(size(col("hs")) > 0)
    seeds.zipWithIndex.foreach { case (sd, i) =>
      sigs = sigs.withColumn(s"sig_$i", expr(s"array_min(transform(hs, h -> h ^ ${sd}L))"))
    }
    val bandCols = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => s"sig_${b * rowsPerBand + r}").mkString(", ")
      struct(lit(b).as("band_id"), expr(s"md5(concat_ws('|', $rows))").as("band_hash"))
    }
    val banded = sigs.withColumn("band", explode(array(bandCols: _*)))
    val keep = Seq(col("doc_id")) ++ (if (keepSets) Seq(col("hs")) else Nil) ++
      Seq(col("band.band_id"), col("band.band_hash"))
    // stamp the banding conf into column metadata: it rides the schema
    // through a parquet round-trip, so a stored index carries its own
    // provenance and dedupDeltaFrom can fail fast on conf drift
    BandingStamp.stamp(banded.select(keep: _*))
  }

  /** Exact-Jaccard verification of candidate id pairs against the hashed
    * shingle sets: the candidate re-join moves 8-byte longs per shingle
    * instead of strings, and the intersect compares longs.
    */
  /** Exact per-candidate set counts (doc_a, doc_b, inter, uni) — the shared
    * verify stage both the jaccard filter and the similarity histogram
    * derive from (integer counts, so the histogram can bucket without a
    * float boundary ever deciding a row).
    */
  private def verifyCounts(candIds: DataFrame, sets: DataFrame): DataFrame = {
    candIds
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        (size(col("sha")) + size(col("shb"))).cast("long") - col("inter"))
  }

  private def verifyJaccard(candIds: DataFrame, sets: DataFrame, tau: Double): DataFrame =
    verifyCounts(candIds, sets)
      .withColumn("jaccard",
        round(col("inter").cast("double") / col("uni"), 4))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(Tables.documents(spark, dir))
      .contractOrderBy("doc_a", "doc_b")

  /** The MinHash-LSH pair core over any (doc_id, text) relation, unordered —
    * the seam [[dedupKeepUnified]] and the cluster path consume (the
    * contract sort exists only at the query surface).
    */
  private[graft] def minhashPairsOf(docs: DataFrame): DataFrame = {
    val (sets, candIds) = lshCandidatesOf(docs)
    verifyJaccard(candIds, sets, MinHashTau)
  }

  /** Banded LSH candidate ids + the persisted shingle-set table they verify
    * against — ONE core shared by the tau-filtered pair path and the
    * tau-free `similarity_histogram`, so the two can never drift on the
    * signature family, band assembly, or hot-bucket cap.
    */
  private[graft] def lshCandidatesOf(docs: DataFrame): (DataFrame, DataFrame) = {
    // persist: the band self-join would otherwise recompute all 16 signature
    // passes on BOTH sides (production would checkpoint signatures); the
    // sets table feeds banding AND the verify re-join.
    val sets = persistIntermediate(hashedShingleSetsOf(docs))
    // candidates carry only ids through the band shuffle + distinct; the
    // (wide) shingle arrays are re-joined afterwards — at scale this keeps
    // the LSH shuffle narrow no matter how large the shingle sets are.
    val bandedAll = persistIntermediate(bandTableOf(sets))
    // hot-bucket cap: identical shape to the rare-shingle guard — bounds
    // per-bucket join fan-out regardless of dup-cluster size.
    val coolBuckets = bandedAll.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= HotBandDocs)
      .select("band_id", "band_hash")
    val banded = bandedAll.join(coolBuckets, Seq("band_id", "band_hash"))
    val candIds = banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (sets, candIds)
  }

  /** The shingle → signature → band CTE chain (`hsets`/`sigs`/`banded_all`)
    * shared by [[dedupMinhashLshSql]] and Curation's fuzzy-decontamination
    * oracle — one string so the two queries can never drift on the
    * signature family or band assembly.
    */
  private[graft] def minhashBandedCtes: String = minhashBandedCtesFor("documents")

  private[graft] def minhashBandedCtesFor(rel: String): String =
    s"""${hashedShingleCteFor(rel)},
       |$minhashBandedBody""".stripMargin

  /** The banding chain WITHOUT the leading shingle CTEs — composable next
    * to OTHER consumers of `hsets` in one WITH (r11: the recall report
    * reads the shingle-join truth and the banded detection off ONE
    * `hsets`, so the two populations provably share their input).
    */
  private[graft] def minhashBandedBody: String = {
    val sigCols = MinHashSeeds.zipWithIndex.map { case (sd, i) =>
      s"list_min(list_transform(hs, h -> xor(h, $sd))) AS sig_$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => s"sig_${b * RowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band_id, md5(concat_ws('|', $rows)) AS band_hash FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""hashed AS (
       |  SELECT doc_id, hs FROM hsets WHERE len(hs) > 0
       |),
       |sigs AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM hashed
       |),
       |banded_all AS (
       |  $bandSelects
       |)""".stripMargin
  }

  /** The banding → hot-cap → candidate-pair CTE chain shared by the
    * tau-filtered pair oracle and the similarity-histogram oracle — one
    * string, mirroring [[lshCandidatesOf]] on the Spark side.
    */
  private[graft] def minhashCandCtes: String = minhashCandCtesFor("documents")

  private[graft] def minhashCandCtesFor(rel: String): String =
    s"""${minhashBandedCtesFor(rel)},
       |$minhashCandTail""".stripMargin

  /** Hot-cap + candidate CTEs alone (read `banded_all`). */
  private[graft] def minhashCandTail: String =
    s"""cool AS (
       |  SELECT band_id, band_hash FROM banded_all
       |  GROUP BY band_id, band_hash HAVING count(*) <= $HotBandDocs
       |),
       |banded AS (
       |  SELECT b.* FROM banded_all b JOIN cool USING (band_id, band_hash)
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** Candidate CTEs + the exact-Jaccard `verified` CTE — the full
    * above-τ pair chain as ONE shared string (r10: extracted so
    * `source_dedup_matrix` reads the IDENTICAL pair population as
    * `dedup_minhash_lsh`, not a re-derivation).
    */
  private[graft] def minhashVerifiedCtes: String = minhashVerifiedCtesFor("documents")

  private[graft] def minhashVerifiedCtesFor(rel: String): String =
    s"""${minhashCandCtesFor(rel)},
       |$minhashVerifiedTail""".stripMargin

  /** The exact-Jaccard verify CTE alone (reads `cand` + `hsets`). */
  private[graft] def minhashVerifiedTail: String =
    s"""verified AS (
       |  SELECT doc_a, doc_b,
       |    round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
       |          (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))), 4) AS jaccard
       |  FROM cand JOIN hsets sa ON doc_a = sa.doc_id JOIN hsets sb ON doc_b = sb.doc_id
       |)""".stripMargin

  def dedupMinhashLshSql: String = dedupMinhashLshSqlFor("documents")

  private[graft] def dedupMinhashLshSqlFor(rel: String): String = {
    s"""${minhashVerifiedCtesFor(rel)}
       |SELECT doc_a, doc_b, jaccard FROM verified
       |WHERE jaccard >= $MinHashTau
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** `source_dedup_matrix` (r10): the cross-CRAWL overlap matrix — the
    * MinHash near-dup pair population rolled up to (source_a, source_b)
    * cells with pair count and worst-case (max) Jaccard. The read: which
    * sources re-serve each other's content (a mirror, a scraper-of-a-
    * scraper, two snapshots of one site). Diagonal cells are
    * within-source redundancy; heavy OFF-diagonal cells are the
    * which-crawl-to-drop decision `contamination_report` makes for
    * benchmarks, applied crawl-vs-crawl. Exactly [[dedupMinhashLsh]]'s
    * above-τ pair set (same [[minhashPairsOf]] seam / shared `verified`
    * CTE string — the matrix describes the population the dedup acts on,
    * never a resample), plus two doc_id→source key joins and an
    * O(sources²)-bounded rollup; source pairs are unordered
    * (least/greatest) so each cell counts once. max(jaccard) is exact:
    * the 4-dp rounded values both engines already hash-agree on.
    */
  def sourceDedupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    minhashPairsOf(docs)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .contractOrderBy("source_a", "source_b")
  }

  def sourceDedupMatrixSql: String =
    s"""$minhashVerifiedCtes,
       |ab AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |         greatest(da.source, db.source) AS source_b,
       |         v.jaccard
       |  FROM verified v
       |  JOIN documents da ON v.doc_a = da.doc_id
       |  JOIN documents db ON v.doc_b = db.doc_id
       |  WHERE v.jaccard >= $MinHashTau
       |)
       |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |  max(jaccard) AS max_jaccard
       |FROM ab GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** `similarity_histogram`: the τ-PICKER — exact Jaccard of every LSH
    * candidate pair bucketed into twenty 5-point bands (`bucket` =
    * `20·|∩| div |∪|`, pure integer division — a float `floor(j·20)` would
    * flip pairs sitting exactly on a band edge). Reading this histogram is
    * how a threshold gets CHOSEN: a healthy corpus shows a valley between
    * the near-dup mass at the top bands and the incidental-overlap mass at
    * the bottom, and τ belongs in the valley; `dedup_minhash_lsh` then
    * applies it. Same banded candidate core ([[lshCandidatesOf]]) and same
    * verify counts as the pair path — the histogram describes EXACTLY the
    * population the filter will act on, not a resample.
    *
    * Scale: identical cost to the pair query it profiles (the banded join
    * is the work; the bucket aggregation is O(candidates) → 21 rows).
    */
  def similarityHistogram(spark: SparkSession, dir: String): DataFrame = {
    val (sets, candIds) = lshCandidatesOf(Tables.documents(spark, dir))
    verifyCounts(candIds, sets)
      .withColumn("bucket", expr("(20 * inter) div uni"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .contractOrderBy("bucket")
  }

  def similarityHistogramSql: String =
    s"""$minhashCandCtes,
       |counts AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS inter,
       |    CAST(len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS uni
       |  FROM cand JOIN hsets sa ON doc_a = sa.doc_id JOIN hsets sb ON doc_b = sb.doc_id
       |)
       |SELECT (20 * inter) // uni AS bucket, count(*) AS n_pairs
       |FROM counts GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** `minhash_recall_report` (r11): measure-before-trust for the LEXICAL
    * dedup lane — the `ann_recall_report` discipline applied to MinHash.
    * Ground-truth CANDIDATES are the rare-shingle-join pair population
    * ([[shingleJoinPairsOf]] — complete for τ > 0: any above-τ pair
    * shares a shingle, modulo the same hot-shingle cap production runs
    * with), but the truth-side τ gate and report bucket use the
    * FULL-set intersection — the identical [[verifyCounts]] arithmetic
    * the detection's verify step uses, so a pair whose overlap includes
    * hot shingles is neither dropped below τ nor bucketed low (r11
    * advice: the rare-only intersection deflated truth jaccards a
    * second way beyond the documented cap drop-out); detection is
    * [[minhashPairsOf]]'s banded, hot-capped, verified pair set over
    * the SAME persisted shingle table. Reported per 5-point Jaccard band (`similarity_histogram`'s
    * integer `20·|∩| div |∪|` buckets): truth pairs, detected pairs, and
    * recall in integer basis points — the read that justifies the band
    * geometry (`bands × rowsPerBand`) before a 100 TB run commits to it:
    * banding's S-curve means recall should collapse BELOW τ's band and
    * saturate above it; a sagging top band means the band count is too
    * low (or the cap too tight) and the keep-list is silently leaking
    * dups.
    *
    * Determinism: buckets, counts and `recall_bp` are pure integer
    * arithmetic over the already-hash-exact pair populations. Scale:
    * exactly the two pair pipelines it audits (shared one persisted
    * shingle table) + one pair-grain left join + an O(21) rollup.
    */
  def minhashRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val (sets, candIds) = lshCandidatesOf(Tables.documents(spark, dir))
    // truth CANDIDATES come from the rare-shingle join (complete for
    // τ > 0 modulo the hot-shingle cap), but their jaccard — both the τ
    // gate and the report bucket — is recomputed with the FULL-set
    // intersection, the SAME arithmetic the detection's verify step
    // uses: a pair whose overlap includes hot shingles must be neither
    // dropped below τ nor deflated into a lower bucket (r11 advice)
    val truthIds = shingleJoinPairsOf(sets).select("doc_a", "doc_b")
    // ONE verify pass serves both populations (r19, guide §2.4: one
    // detection, two consumers inside one plan). The old shape verified
    // the banded candidates separately (two more set-joins) and
    // left-joined the τ-gated result onto the τ-gated truth; but both
    // verifies compute the IDENTICAL full-set jaccard over the identical
    // persisted shingle table, so for a truth row (already jaccard ≥ τ)
    // "detected" reduces to plain candidate-set membership — flag it
    // with a pair-grain left join BEFORE the verify and verify once.
    val flagged = truthIds.join(candIds.withColumn("cand", lit(true)),
      Seq("doc_a", "doc_b"), "left")
    verifyCounts(flagged, sets)
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
      .filter(col("jaccard") >= MinHashTau)
      .withColumn("bucket", expr("(20 * inter) div uni"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("cand"), 1L).otherwise(0L)).as("n_detected"))
      .withColumn("recall_bp", expr("n_detected * 10000 div n_truth"))
      .contractOrderBy("bucket")
  }

  def minhashRecallReportSql: String =
    s"""$minhashVerifiedCtes,
       |ne AS (SELECT doc_id, unnest(hs) AS shingle FROM hsets),
       |nrare AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM ne)
       |  WHERE df <= $HotShingleDf
       |),
       |npairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM nrare a JOIN nrare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |),
       |ntruth AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS inter,
       |    CAST(len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS uni
       |  FROM npairs p JOIN hsets sa ON p.doc_a = sa.doc_id JOIN hsets sb ON p.doc_b = sb.doc_id
       |  WHERE round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
       |        (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))), 4) >= $MinHashTau
       |),
       |ndet AS (
       |  SELECT doc_a, doc_b FROM verified WHERE jaccard >= $MinHashTau
       |)
       |SELECT CAST((20 * t.inter) // t.uni AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_truth,
       |  CAST(sum(CASE WHEN d.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
       |  CAST(sum(CASE WHEN d.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS recall_bp
       |FROM ntruth t
       |LEFT JOIN ndet d ON t.doc_a = d.doc_a AND t.doc_b = d.doc_b
       |GROUP BY (20 * t.inter) // t.uni
       |ORDER BY bucket""".stripMargin

  /** `dedup_simhash`: 64-bit SimHash signature per document — Charikar
    * simhash with term-frequency weighting: every token OCCURRENCE votes
    * ±1 per bit (distinct-token voting degenerates on low-entropy
    * vocabularies where documents share the same token set).
    *
    * 64 bits (not 32): band blocking over a 32-bit signature caps out at
    * 256 buckets per 8-bit band, which degenerates toward O(n²/256)
    * candidates at corpus scale; 4×16-bit bands give 65,536 buckets/band.
    */
  /** (doc_id, simhash, n_tokens) via the [[graft.functions.SimhashAgg]]
    * native aggregate — constant 260-byte buffer per group, one shuffle.
    * (64 separate sum(CASE) aggregates generate a huge Janino class per
    * plan; exploding token×bit rows multiplies shuffle input 64× — both
    * were measured slower.) The token's 64 hash bits travel as two 32-bit
    * md5 halves: a single 16-hex-char conv overflows signed long under
    * ANSI mode, and both engines vote per-half identically.
    */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    simhashSignaturesOf(Tables.documents(spark, dir))

  /** The signature core over any (doc_id, text) relation — the seam the
    * incremental path signs its delta through. The signature is CONF-FREE
    * (md5 votes, fixed 64-bit width), so the persisted index needs no
    * fingerprint stamp: there is nothing to drift.
    */
  def simhashSignaturesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .withColumn("th_hi", expr("graft_md5_long(word, 1, 8)"))
      .withColumn("th_lo", expr("graft_md5_long(word, 9, 8)"))
      .groupBy(col("doc_id"))
      .agg(expr("graft_simhash(th_hi, th_lo)").as("s"))
      .select(col("doc_id"), col("s.simhash").as("simhash"), col("s.n_tokens").as("n_tokens"))

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSignatures(spark, dir)
      .select("doc_id", "simhash", "n_tokens")
      .contractOrderBy("doc_id")

  /** DuckDB votes: bits 0-31 from the lo half, 32-63 from the hi half. */
  private val simhashVotesSql: String =
    ((0 until 32).map(j => s"sum(CASE WHEN (th_lo >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j") ++
     (32 until 64).map(j => s"sum(CASE WHEN (th_hi >> ${j - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v$j"))
      .mkString(",\n    ")

  /** Signature assembly: disjoint power-of-two terms sum to the bitwise OR
    * in two's complement; bit 63 is the min-long literal trick (the bare
    * literal would overflow DuckDB's BIGINT parser).
    */
  private val simhashBitsSql: String =
    (0 until 64).map { j =>
      val pow = if (j == 63) "(-9223372036854775807 - 1)" else s"${1L << j}"
      s"(CASE WHEN v$j > 0 THEN $pow ELSE 0 END)"
    }.mkString(" + ")

  private val simhashHashCte: String =
    """t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      |), h AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS th_hi,
      |    CAST(('0x' || substr(md5(word), 9, 8)) AS BIGINT) AS th_lo
      |  FROM t
      |)""".stripMargin

  val dedupSimhashSql: String =
    s"""WITH $simhashHashCte, v AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    $simhashVotesSql
       |  FROM h GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS simhash, n_tokens FROM v
       |ORDER BY doc_id""".stripMargin

  /** SimHash pair threshold + banding: 4 bands of 16 bits guarantee any
    * pair of DISTINCT signatures with hamming ≤ 3 shares at least one band
    * unchanged (pigeonhole: 3 flipped bits can dirty at most 3 of the 4
    * bands). 16-bit bands give 65,536 buckets per band — a 32-bit
    * signature's 8-bit bands cap out at 256 buckets and degenerate toward
    * O(n²/256) candidates at corpus scale.
    *
    * Recall contract: hamming-0 pairs are emitted EXACTLY (grouped by
    * signature, never through banding, so the hot-bucket cap cannot drop
    * them); hamming 1–3 recall is pigeonhole-complete unless a band bucket
    * holds more than [[HotBandDocs]] DISTINCT signatures (a 64-way
    * hash-value collision among non-identical near-dups — pathological, and
    * the same bound production LSH pipelines apply).
    */
  val SimHamMax = 3
  val SimBands = 4
  val SimBandBits = 16

  /** `dedup_simhash_pairs`: near-dup pairs by SimHash hamming distance.
    *
    * Two-lane plan, never n²:
    *  1. identical-signature lane — self-join on `simhash` (one shuffle on
    *     the 8-byte key) emits every hamming-0 pair exactly; output size is
    *     the true pair count, which is inherent to pair semantics (callers
    *     wanting cluster-per-row output at scale use [[dedupExact]]-style
    *     grouping on `simhash`).
    *  2. near-miss lane — band blocking over ONE representative per distinct
    *     signature (so dup-cluster size never heats a bucket), hot buckets
    *     capped at [[HotBandDocs]] distinct signatures, hamming verified
    *     INSIDE the join, then signature pairs expand back to doc pairs via
    *     two key-joins.
    */
  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = persistIntermediate(simhashSignatures(spark, dir).select("doc_id", "simhash"))
    // lane 2: band DISTINCT signatures (one row per signature value)
    val bandedAll = sig.select(col("simhash")).distinct()
      .select(col("simhash"), explode(expr(s"sequence(0, ${SimBands - 1})")).as("band_id"))
      .withColumn("band_val", expr(s"(simhash >> (band_id * $SimBandBits)) & ${(1 << SimBandBits) - 1}"))
    val coolBuckets = bandedAll.groupBy(col("band_id"), col("band_val"))
      .agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= HotBandDocs)
      .select("band_id", "band_val")
    val banded = bandedAll.join(coolBuckets, Seq("band_id", "band_val"))
    // hamming filter INSIDE the join: correlated signatures make band
    // buckets hot; verifying during the join drops survivors before the
    // distinct shuffle (a signature pair can collide in up to 4 bands).
    val sigPairs = banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_val") === col("b.band_val") &&
          col("a.simhash") < col("b.simhash") &&
          expr(s"bit_count(a.simhash ^ b.simhash) <= $SimHamMax"))
      .select(col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"),
        expr("cast(bit_count(a.simhash ^ b.simhash) as bigint)").as("hamming"))
      .distinct()
    val near = sigPairs
      .join(sig.select(col("doc_id").as("da"), col("simhash").as("sig_a")), "sig_a")
      .join(sig.select(col("doc_id").as("db"), col("simhash").as("sig_b")), "sig_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    // lane 1: exact hamming-0 pairs within identical-signature groups
    val same = sig.as("a").join(sig.as("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    near.unionByName(same)
      .contractOrderBy("doc_a", "doc_b")
  }

  val dedupSimhashPairsSql: String =
    s"""WITH $simhashHashCte, v AS (
       |  SELECT doc_id,
       |    $simhashVotesSql
       |  FROM h GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS simhash FROM v
       |), banded_all AS (
       |  SELECT simhash, band_id,
       |    (simhash >> (band_id * $SimBandBits)) & ${(1 << SimBandBits) - 1} AS band_val
       |  FROM (SELECT simhash,
       |          unnest(generate_series(0, ${SimBands - 1})) AS band_id
       |        FROM (SELECT DISTINCT simhash FROM sig))
       |), cool AS (
       |  SELECT band_id, band_val FROM banded_all
       |  GROUP BY band_id, band_val HAVING count(*) <= $HotBandDocs
       |), bv AS (
       |  SELECT b.* FROM banded_all b JOIN cool USING (band_id, band_val)
       |), sig_pairs AS (
       |  SELECT DISTINCT a.simhash AS sig_a, b.simhash AS sig_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM bv a JOIN bv b ON a.band_id = b.band_id AND a.band_val = b.band_val
       |    AND a.simhash < b.simhash
       |    AND bit_count(xor(a.simhash, b.simhash)) <= $SimHamMax
       |), near AS (
       |  SELECT least(sa.doc_id, sb.doc_id) AS doc_a,
       |    greatest(sa.doc_id, sb.doc_id) AS doc_b, p.hamming
       |  FROM sig_pairs p
       |  JOIN sig sa ON p.sig_a = sa.simhash
       |  JOIN sig sb ON p.sig_b = sb.simhash
       |), same AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
       |  FROM sig a JOIN sig b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, hamming
       |FROM (SELECT * FROM near UNION ALL SELECT * FROM same)
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dedup_simhash_delta --------------------------------------------------

  /** The persisted SimHash-lane index: one (doc_id, simhash) row per base
    * doc ([[simhashSignaturesOf]] — conf-free signature, nothing to
    * stamp; SimHamMax/HotBandDocs are QUERY-time knobs, like nprobe).
    */
  def simhashIndexOf(docs: DataFrame): DataFrame =
    simhashSignaturesOf(docs).select("doc_id", "simhash")

  /** `dedup_simhash_delta` (r11): INCREMENTAL SimHash near-dup detection —
    * the new crawl signs ONLY its own text and pairs against the stored
    * signature index, completing the per-lane incremental matrix (exact,
    * MinHash, SRP, winnow, and now SimHash each run delta-vs-stored-index).
    *
    * Same two-lane shape as [[dedupSimhashPairs]]: the identical-signature
    * lane is two equi-joins (delta×index + delta-internal, exact by
    * construction); the near lane bands DISTINCT signatures — the stored
    * index's signature column is banded once (a columnar scan of the
    * index, never a base-text rescan) and RESTRICTED to delta-touched
    * (band, value) buckets before any occupancy aggregation (the
    * [[dedupDeltaPrepared]] discipline: touched-bucket list is
    * delta-sized), bucket occupancy = distinct signatures of base ∪ delta
    * in the touched buckets (exactly the full-corpus cap rule — a
    * delta-touching signature pair lives in a delta-touched bucket), and
    * sig pairs require a DELTA signature on one side. Expansion back to
    * doc pairs joins the union signature table and keeps delta-touching
    * pairs only. Per-crawl cost: O(delta text + index scan + touched-
    * bucket contents), never O(corpus text).
    *
    * Oracle: the FULL-corpus [[dedupSimhashPairs]] restricted to pairs
    * touching a delta doc — the independent formulation the incremental
    * path must reproduce (the `dedup_delta` discipline).
    */
  def dedupSimhashDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isDelta = col("doc_id") % DeltaIdMod === 0
    dedupSimhashDeltaFrom(
      storedIndex(spark, "simhash", dir)(simhashIndexOf(docs.filter(!isDelta))),
      docs.filter(isDelta))
  }

  /** The incremental core over an ALREADY-built (doc_id, simhash) index. */
  def dedupSimhashDeltaFrom(index: DataFrame, deltaDocs: DataFrame): DataFrame =
    dedupSimhashDeltaPrepared(index, persistIntermediate(simhashIndexOf(deltaDocs)))

  /** The incremental core once the delta is already SIGNED — the seam the
    * streaming tap ([[graft.streaming.StreamOps.SimhashDedupIndex]]) feeds
    * per micro-batch: it signs each batch exactly once, runs this, then
    * appends the batch's signatures to the index it keeps.
    */
  private[graft] def dedupSimhashDeltaPrepared(index: DataFrame,
      dsig: DataFrame): DataFrame = {
    // identical lane: hamming-0 pairs never pass through banding (the
    // full query's recall contract) — delta×base plus delta-internal
    val sameDB = dsig.as("a").join(index.as("b"), col("a.simhash") === col("b.simhash"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"), lit(0L).as("hamming"))
    val sameDD = dsig.as("a").join(dsig.as("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    // near lane: band DISTINCT signatures; index banding restricted to
    // delta-touched buckets BEFORE the occupancy aggregation
    def bandsOf(sigs: DataFrame): DataFrame = sigs.select("simhash").distinct()
      .select(col("simhash"), explode(expr(s"sequence(0, ${SimBands - 1})")).as("band_id"))
      .withColumn("band_val",
        expr(s"(simhash >> (band_id * $SimBandBits)) & ${(1 << SimBandBits) - 1}"))
    val db = persistIntermediate(bandsOf(dsig))
    val touched = db.select("band_id", "band_val").distinct()
    val bb = bandsOf(index).join(touched, Seq("band_id", "band_val"))
    // full-corpus occupancy in touched buckets: distinct signatures of
    // base ∪ delta (a signature present in both counts once, exactly as
    // the full query's distinct-signature banding counts it)
    val uni = persistIntermediate(bb.unionByName(db).distinct())
    val cool = uni.groupBy(col("band_id"), col("band_val"))
      .agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= HotBandDocs)
      .select("band_id", "band_val")
    val uc = uni.join(cool, Seq("band_id", "band_val"))
    val dc = db.join(cool, Seq("band_id", "band_val"))
    val sigPairs = dc.as("a").join(uc.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_val") === col("b.band_val") &&
          col("a.simhash") =!= col("b.simhash") &&
          expr(s"bit_count(a.simhash ^ b.simhash) <= $SimHamMax"))
      .select(least(col("a.simhash"), col("b.simhash")).as("sig_a"),
        greatest(col("a.simhash"), col("b.simhash")).as("sig_b"),
        expr("cast(bit_count(a.simhash ^ b.simhash) as bigint)").as("hamming"))
      .distinct()
    val members = index.withColumn("isd", lit(false))
      .unionByName(dsig.withColumn("isd", lit(true)))
    val near = sigPairs
      .join(members.select(col("doc_id").as("da"), col("simhash").as("sig_a"),
        col("isd").as("ia")), "sig_a")
      .join(members.select(col("doc_id").as("db"), col("simhash").as("sig_b"),
        col("isd").as("ib")), "sig_b")
      .filter(col("ia") || col("ib"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    near.unionByName(sameDB).unionByName(sameDD)
      .contractOrderBy("doc_a", "doc_b")
  }

  /** Oracle: the full-corpus SimHash pair pipeline restricted to
    * delta-touching pairs.
    */
  def dedupSimhashDeltaSql: String =
    s"""SELECT doc_a, doc_b, hamming FROM (
       |$dedupSimhashPairsSql
       |) t
       |WHERE doc_a % $DeltaIdMod = 0 OR doc_b % $DeltaIdMod = 0
       |ORDER BY doc_a, doc_b""".stripMargin

  /** `dedup_embedding`: cosine near-dup pairs, blocked on the coarse
    * cluster label (IVF-style) — embeddings are L2-normalized so cosine is
    * the dot product, computed in double.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("emb"))
    withCosineAtLeast(e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id")),
        expr("graft_dot(a.emb, b.emb)"), CosineTau)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        col("a.label").as("label"), col("cos"))
      .contractOrderBy("id_a", "id_b")
  }

  def dedupEmbeddingSql: String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       |  round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos
       |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= $CosineTau
       |ORDER BY id_a, id_b""".stripMargin

  /** Multi-probe width for [[dedupEmbeddingIvf]] cell assignment. */
  def EmbedNProbe: Int = GraftConf.dedupEmbedNProbe

  /** `dedup_embedding_ivf`: embedding near-dup pairs blocked on the TRAINED
    * IVF quantizer ([[Clustering.trainedCentroids]]) instead of the
    * pre-supplied `label` column [[dedupEmbedding]] blocks on — the
    * production shape: a real 100 TB corpus arrives unlabeled, and the SAME
    * trained cells already serve the ANN path
    * ([[Similarity.trainedIvfTopK]]), so blocking is one shared artifact.
    *
    * Multi-probe assignment: every vector lands in its [[EmbedNProbe]] ≥ 1
    * nearest cells, so a pair sitting just across a cell boundary still
    * shares a cell (the IVF recall lever; the recall-vs-label-blocked spec
    * measures it on the planted pairs). Scale shape: centroids broadcast
    * (K rows), assignment is ONE corpus scan with map-side-combined
    * aggregation (the argmin rows are co-located by the broadcast cross
    * join), candidates come from a cell equi-join — never an n² cross
    * join. Cell fan-out is controlled by K: size `spark.graft.kmeans.k` to
    * corpus/target-cell-size (√n is the usual IVF rule) so within-cell
    * pair counts stay bounded; nprobe multiplies candidate volume
    * linearly, not quadratically, because cells are disjoint.
    */
  def dedupEmbeddingIvf(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingIvfOf(Tables.embeddings(spark, dir))
      .contractOrderBy("id_a", "id_b")

  /** The trained-IVF pair core over any (vec_id, embedding) relation —
    * shared by the query surface and the scale probe (which sizes
    * `spark.graft.kmeans.k` ~ √n per the IVF rule as the corpus grows).
    */
  private[graft] def dedupEmbeddingIvfOf(embs: DataFrame): DataFrame = {
    val nprobe = EmbedNProbe
    // the quantizer costs Lloyd rounds over the corpus — pin it so the two
    // consumers below don't each retrain it
    val cents = Intermediates.persist(
      Clustering.trainedCentroidsOf(Clustering.scaledEmbOf(embs)))
    // top-nprobe cells per vector via sorted-slice aggregation (exact
    // integer (d2, cid) structs sort lexicographically = ORDER BY d2, cid);
    // a window would shuffle AND sort all n·K distance rows, the groupBy
    // collapses them map-side to one row per vector first
    val cells = Clustering.scaledEmbOf(embs)
      .crossJoin(broadcast(cents))
      .withColumn("d2", expr("graft_l2sq(se, cemb)"))
      .groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(struct(col("d2"), col("cid")))), 1, nprobe)
        .as("top"))
      .select(col("vec_id"), explode(expr("transform(top, t -> t.cid)")).as("cell"))
    val cand = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      // a pair can share up to nprobe cells — dedup ids before the (wide)
      // embedding re-join so each pair is verified once
      .distinct()
    verifyCosine(cand, embs)
  }

  /** Oracle shares [[Clustering.kmeansCtesSql]] verbatim with
    * `kmeans_train`/`ann_topk_ivf2`, so the three oracles can never disagree
    * about the quantizer.
    */
  def dedupEmbeddingIvfSql: String =
    s"""WITH ${Clustering.kmeansCtesSql},
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d2t) WHERE rn <= $EmbedNProbe
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |)
       |SELECT id_a, id_b,
       |  round(list_inner_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) AS cos
       |FROM cand
       |JOIN embeddings ea ON id_a = ea.vec_id
       |JOIN embeddings eb ON id_b = eb.vec_id
       |WHERE round(list_inner_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) >= $CosineTau
       |ORDER BY id_a, id_b""".stripMargin

  /** SemDeDup within-cell cosine threshold (see [[GraftConf.dedupSemTau]]). */
  def SemTau: Double = GraftConf.dedupSemTau

  /** `dedup_semantic`: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) —
    * semantic deduplication as k-means-then-within-cluster-cosine, with the
    * paper's keep rule: inside each duplicate group keep the example
    * FURTHEST from its cluster centroid (the least prototypical member —
    * §3.1: keeping low-centroid-similarity examples preserved downstream
    * accuracy best), not the lowest id.
    *
    * Reference semantics anchor: the reference pipeline dedups extraction
    * outputs by exact id only (utils/validation.py's per-document keying);
    * this is the corpus-scale semantic generalization its training-data use
    * case needs.
    *
    * Composition is entirely shipped cores: the trained coarse quantizer
    * ([[Clustering.trainedCentroidsOf]] — the SAME artifact the ANN path
    * probes), argmin cell assignment (one broadcast scan), within-cell
    * above-[[SemTau]] cosine pairs (cell equi-join, never n²), and
    * [[clustersFromPairs]] connected components — SemDeDup groups are
    * transitive closures of the pairwise-ε relation within a cell. The
    * prototypicality signal (exact integer d2 to the assigned centroid) is
    * already computed by assignment, so the keep rule costs one window over
    * the MEMBERSHIP table only (near-dup rows, a small fraction of the
    * corpus). Ties on d2 break to lower vec_id; d2 is exact integer so the
    * argmax can't float-flip.
    *
    * Scale: centroids broadcast (K rows); assignment is one corpus scan
    * with map-side-combined argmin; pair generation is a cell equi-join
    * with per-cell fan-out bounded by sizing K ~ √n (the IVF rule); CC
    * shuffles edges only; the final corpus-grain left join is the one
    * key-shuffle — the [[dedupKeep]] shape. At 100 TB every stage is the
    * already-probed plan of `dedup_embedding_ivf` + `dedup_keep`.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    // bench-session artifact: the TRAINED-quantizer cell assignment
    // (vec_id, cell, d2) — the Lloyd rounds are the train-once cost a
    // production SemDeDup pass amortizes across crawls; the within-cell
    // pair generation + cosine verify + CC stay in-query (that IS the
    // dedup being measured). Parity is spec-asserted
    // (DedupMembershipApplySpec).
    val embs = Tables.embeddings(spark, dir)
    val assigned = storedIndex(spark, "semassigned", dir)(Clustering.assignedCellsOf(embs))
    dedupSemanticFrom(embs, persistIntermediate(assigned))
      .contractOrderBy("vec_id")
  }

  private[graft] def dedupSemanticOf(embs: DataFrame): DataFrame =
    dedupSemanticFrom(embs,
      persistIntermediate(Clustering.assignedCellsOf(embs)))

  private def dedupSemanticFrom(embs: DataFrame, assigned: DataFrame): DataFrame = {
    val cand = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val pairs = verifyCosine(cand, embs, SemTau)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    // CC over the within-cell ε-graph = the SemDeDup duplicate groups;
    // re-rank each group by the paper's keep rule (max d2, ties to id).
    // Every edge joins two vectors of ONE cell (argmin assignment is
    // unique), so the cell is a closed CC group.
    val member = clustersFromPairs(pairs.join(
        assigned.select(col("vec_id").as("doc_a"), col("cell").as("cc_grp")),
        Seq("doc_a")))
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("group_id"),
        col("cluster_size").as("group_size"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_id")).orderBy(col("d2").desc, col("vec_id"))
    val ranked = member.join(assigned.select(col("vec_id"), col("d2")), "vec_id")
      .withColumn("rk", row_number().over(w))
      .select(col("vec_id").as("mid"), col("group_id"), col("group_size"), col("rk"))
    assigned.join(ranked, col("vec_id") === col("mid"), "left_outer")
      .select(col("vec_id"), col("cell"), col("d2"),
        coalesce(col("group_id"), col("vec_id")).as("group_id"),
        coalesce(col("group_size"), lit(1L)).as("group_size"),
        (col("mid").isNull || col("rk") === 1).as("keep"))
  }

  /** Oracle shares [[Clustering.kmeansCtesSql]] verbatim with the other
    * quantizer consumers and the recursive-closure body with the cluster
    * oracles — the group structure and the quantizer can't drift.
    */
  def dedupSemanticSql: String = {
    val prelude =
      s"""${Clustering.kmeansCtesSql},
         |${Clustering.assignedCteSql}""".stripMargin
    val pairsBody =
      s"""  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON a.vec_id = ea.vec_id
         |  JOIN embeddings eb ON b.vec_id = eb.vec_id
         |  WHERE round(list_inner_product(CAST(ea.embedding AS DOUBLE[]),
         |    CAST(eb.embedding AS DOUBLE[])), 4) >= $SemTau""".stripMargin
    s"""${closureCtes(pairsBody, prelude)},
       |grp AS (
       |  SELECT cc.id AS mid, cc.cluster_id AS group_id,
       |    CAST(count(*) OVER (PARTITION BY cc.cluster_id) AS BIGINT) AS group_size,
       |    row_number() OVER (PARTITION BY cc.cluster_id
       |      ORDER BY a.d2 DESC, cc.id) AS rk
       |  FROM cc JOIN assigned a ON cc.id = a.vec_id
       |)
       |SELECT a.vec_id, a.cell, a.d2,
       |  coalesce(g.group_id, a.vec_id) AS group_id,
       |  coalesce(g.group_size, CAST(1 AS BIGINT)) AS group_size,
       |  (g.mid IS NULL OR g.rk = 1) AS keep
       |FROM assigned a LEFT JOIN grp g ON a.vec_id = g.mid
       |ORDER BY a.vec_id""".stripMargin
  }

  /** SRP signature width / band width (conf-driven; see
    * [[GraftConf.dedupSrpBits]]).
    */
  def SrpBits: Int = GraftConf.dedupSrpBits
  def SrpBandBits: Int = GraftConf.dedupSrpBandBits
  def SrpHotBandDocs: Int = GraftConf.dedupSrpHotBandDocs
  def SrpDims: Int = GraftConf.dedupSrpDims

  /** Deterministic integer hyperplane component for SRP: md5 of the
    * (bit, dim) cell, first 16 hex bits folded to [-32768, 32767]. md5 is
    * the repo-wide cross-engine hash (bit-identical in DuckDB), and — unlike
    * a multiplicative hash, whose output is AFFINE in (bit, dim) mod 2¹⁶ and
    * therefore gives linearly-correlated planes (measured: recall half of
    * the independence prediction) — md5 components are independent across
    * cells, so the 1−θ/π sign-agreement analysis actually holds.
    */
  private def srpPlaneSpark(bitCol: String, pos0Col: String): String =
    s"graft_md5_long(concat('srp|', cast($bitCol as string), '|', cast($pos0Col as string)), 1, 4) - 32768"
  private def srpPlaneDuck(bitCol: String, pos0Col: String): String =
    s"CAST(('0x' || substr(md5('srp|' || CAST($bitCol AS VARCHAR) || '|' || CAST($pos0Col AS VARCHAR)), 1, 4)) AS BIGINT) - 32768"

  /** `dedup_embedding_srp`: cosine near-dup pairs blocked by
    * signed-random-projection LSH (Charikar 2002) — the TRAINING-FREE
    * embedding blocker. Where [[dedupEmbeddingIvf]] needs a trained
    * quantizer (Lloyd rounds over a sample, centroids as a deployed
    * artifact), SRP needs only a fixed set of deterministic hyperplanes, so
    * it works on the very first crawl, in a streaming micro-batch, and on a
    * corpus whose distribution drifts faster than a quantizer is retrained.
    *
    * Shape: [[SrpBits]] sign bits per vector (one per-row projection),
    * banded into bits/[[SrpBandBits]] bands; buckets over the
    * [[SrpHotBandDocs]] cap are dropped by a key-only count. Each cool band
    * row then travels WITH its embedding to its own bucket (home) and to
    * every single-bit-flip neighbour with a higher value (visitor), one
    * `groupBy(band_id, bucket)` gathers each bucket, and
    * `graft_srp_bucket_pairs` scores home×home and home×visitor pairs
    * in-row ([[srpBucketPairs]]): the cap bounds each row's work, only
    * verified pairs leave the kernel, and no (pair, band) candidate row,
    * candidate `distinct` or id-keyed embedding re-join is ever
    * materialised — never n². The hyperplanes are integer-deterministic
    * ([[srpPlaneSql]]) over the exact embedding grid, so the DuckDB oracle
    * reproduces sign boundaries bit-exactly (no float sign flips).
    */
  /** (vec_id, band_id, band_val) SRP band rows for raw (vec_id, embedding)
    * input — ONE stateless per-row projection: the whole signature (every
    * band's sign bits, exact integer dots against the md5 planes) is a
    * nested higher-order expression, so banding needs NO explode-and-regroup
    * shuffle and is legal inside a streaming micro-batch (no stateful agg).
    * Shared verbatim by the batch operator and the streaming lane — one
    * implementation, spec'd once against the CTE-form oracle.
    */
  /** The plane matrix, computed ONCE driver-side with the same md5 the
    * engines use ([[srpPlaneSpark]]/[[srpPlaneDuck]] — DedupSrpSpec pins all
    * cells against the in-engine value). Values are integers in
    * [-32768, 32767] carried as DOUBLE: every product (≤ 3.2·10¹⁰) and
    * 64-dim sum (≤ 2·10¹²) is far under 2⁵³, so double arithmetic is EXACT
    * and the codegen'd `graft_dot` can compute the sign bits instead of an
    * interpreted per-cell lambda (the md5-per-row-per-cell first cut ran
    * 16 s at sf0.1; this shape runs the same corpus in ~1 s).
    */
  private[graft] def srpPlanes(bits: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(bits, dims) { (b, p) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"srp|$b|$p".getBytes("UTF-8"))
      // first 4 hex chars = first 2 bytes, big-endian, as an unsigned int
      val v = ((h(0) & 0xff) << 8) | (h(1) & 0xff)
      (v - 32768).toDouble
    }

  /** The SRP-banding conf fingerprint a stored SRP index is stamped with:
    * every knob that changes band values (bit count, band width, plane
    * dimensionality, the fixed-point grid, the plane family).
    * [[srpDeltaFrom]] fails fast on drift — the SRP twin of
    * [[bandingFingerprint]]; `srpHotBandDocs` is query-time, so excluded.
    */
  def srpFingerprint: String =
    s"srpBits=$SrpBits;bandBits=$SrpBandBits;dims=$SrpDims;scale=${Clustering.Scale};planes=md5-16bit"

  private[graft] def srpBandRows(emb: DataFrame, keepEmb: Boolean = false): DataFrame = {
    val bits = SrpBits
    val bandBits = SrpBandBits
    val dims = SrpDims
    require(bits % bandBits == 0 && bits <= 62,
      s"spark.graft.dedup.srpBits ($bits) must be a multiple of srpBandBits ($bandBits) and ≤ 62")
    val planes = typedLit(srpPlanes(bits, dims).map(_.toSeq).toSeq)
    // sign bits via codegen'd graft_dot against the literal planes; the
    // scaled grid is cast to double (exact — see srpPlanes) so the dot is
    // one primitive loop per (row, bit). The assert_true is load-bearing:
    // a vector whose length disagrees with spark.graft.dedup.srpDims would
    // otherwise silently zero its missing-dim sign contributions.
    val bandsExpr =
      s"""case when assert_true(size(se) = $dims,
         |                      'embedding length <> spark.graft.dedup.srpDims = $dims') is null then
         |  transform(sequence(0, ${bits / bandBits - 1}), band ->
         |    aggregate(sequence(0, $bandBits - 1), 0L, (acc, j) ->
         |      acc + (case when graft_dot(se, pl[band * $bandBits + j]) >= 0.0d
         |             then 1L else 0L end) * shiftleft(1L, j)))
         |end""".stripMargin
    val base = emb.select(col("vec_id"), col("embedding"),
        expr(s"transform(embedding, x -> cast(round(cast(x as double) * ${Clustering.Scale}) as bigint))")
          .as("sl"))
      .select(col("vec_id"), col("embedding"),
        expr("transform(sl, x -> cast(x as double))").as("se"))
      .withColumn("pl", planes)
      .select(col("vec_id") +: (if (keepEmb)
          Seq(expr("transform(embedding, x -> cast(x as double))").as("emb")) else Nil) :+
        posexplode(expr(bandsExpr)).as(Seq("band_id", "band_val")): _*)
    // stamp the SRP conf into column metadata (rides the schema through a
    // parquet/catalog round-trip) so a stored index carries its provenance
    // and srpDeltaFrom can fail fast on conf drift — same treatment as the
    // MinHash band index's banding fingerprint
    SrpStamp.stamp(base.withColumn("band_id", col("band_id").cast("long")))
  }

  def dedupEmbeddingSrp(spark: SparkSession, dir: String): DataFrame =
    srpPairsOf(Tables.embeddings(spark, dir))
      .contractOrderBy("id_a", "id_b")

  /** Multi-probe expansion (Lv et al. 2007) of (vec_id, band_id, band_val)
    * rows: each band value plus every single-bit flip of it, so a pair whose
    * band signatures differ by ≤ 1 bit is still a candidate — the recall
    * lever that makes banding work on borderline-cosine pairs without
    * shrinking bands to a value space the hot-bucket cap would saturate.
    * Fan-out stays bounded: (bandBits+1) probes per (vec, band), each
    * landing in a ≤ cap bucket. Probing is SYMMETRIC (probe(a) hits band(b)
    * ⟺ probe(b) hits band(a)), which is what lets the incremental path
    * probe from the delta side only.
    */
  private def srpProbes(banded: DataFrame): DataFrame = {
    val bandBits = SrpBandBits
    banded.select(col("vec_id"), col("band_id"),
        explode(expr(s"sequence(-1, ${bandBits - 1})")).as("j"), col("band_val"))
      .select(col("vec_id"), col("band_id"),
        expr("case when j < 0 then band_val else band_val ^ shiftleft(1L, j) end").as("band_val"))
  }

  /** The SRP pair core over any (vec_id, embedding) relation, unordered —
    * shared by the query surface, [[dedupKeepUnified]] and the scale probe.
    */
  private[graft] def srpPairsOf(embs: DataFrame): DataFrame = {
    val bands = srpBandRows(embs, keepEmb = true)
    srpBucketPairs(bands.join(srpCoolKeys(bands), Seq("band_id", "band_val")))
  }

  /** The (band_id, band_val) keys of `bands` whose occupancy is within the
    * [[SrpHotBandDocs]] cap — a count over keys only.
    */
  private def srpCoolKeys(bands: DataFrame): DataFrame =
    bands.groupBy("band_id", "band_val")
      .agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= SrpHotBandDocs)
      .select("band_id", "band_val")

  /** The SRP candidate id pairs before the exact-cosine verify: the probe
    * join ([[srpProbes]] × cool band rows) the bucket kernel replaces. Kept
    * as the specification [[srpBucketPairs]] is spec'd against (with
    * [[verifyCosine]], DedupSrpKernelSpec) and so the scale probe can
    * measure candidate VOLUME, the quantity the banding rule
    * `bandBits ≈ log2(corpus/cap)` is supposed to bound.
    */
  private[graft] def srpCandidates(embs: DataFrame): DataFrame = {
    val bands = srpBandRows(embs)
    val banded = Intermediates.persist(bands.join(srpCoolKeys(bands), Seq("band_id", "band_val")))
    srpProbes(banded).as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
  }

  /** The verified (id_a, id_b, cos) pairs among cool SRP band rows
    * (band_id, band_val, vec_id, emb[, flag]) — every pair of rows whose
    * band values differ by at most one bit in some band, scored like
    * [[verifyCosine]] at [[CosineTau]]. A row goes to its own bucket as a
    * home row and to each single-bit-flip neighbour with a higher value as
    * a visitor, so each such pair meets in exactly one bucket per band; the
    * bucket's pairs are scored in-row by `graft_srp_bucket_pairs`. With a
    * `flag` column only pairs with a flagged endpoint are kept (the
    * incremental lane's delta rows). Only verified pairs are deduplicated
    * across bands.
    */
  private def srpBucketPairs(rows: DataFrame): DataFrame = {
    val bandBits = SrpBandBits
    val fields = Seq("vec_id", "emb") ++ rows.columns.find(_ == "flag")
    rows.select(col("band_id"), col("band_val"), struct(fields.map(col): _*).as("r"),
        explode(expr(s"filter(sequence(-1, ${bandBits - 1}), " +
          "j -> j < 0 or (band_val & shiftleft(1L, j)) = 0)")).as("j"))
      .select(col("band_id"),
        expr("case when j < 0 then band_val else band_val | shiftleft(1L, j) end").as("bucket"),
        when(col("j") < 0, col("r")).as("home"),
        when(col("j") >= 0, col("r")).as("vis"))
      .groupBy("band_id", "bucket")
      .agg(collect_list(col("home")).as("home"), collect_list(col("vis")).as("vis"))
      .select(inline(call_function("graft_srp_bucket_pairs",
        col("home"), col("vis"), lit(CosineTau))))
      .distinct()
  }

  /** (vec_id, emb): the embedding cast to double, the one operand form of
    * every cosine verify.
    */
  private def cosineEmbOf(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))

  /** `df` restricted to the rows whose `round(dot, 4)` reaches `tau`, with
    * that value as `cos`. The BigDecimal round runs only where the raw dot
    * is ≥ tau − 1e-4: a round moves a value by at most 5e-5, so no skipped
    * row could have passed. Spark's ordering lets a NaN dot through both
    * filters and drops a null one at the first — the rows and values of
    * the unguarded `round(dot, 4) >= tau`.
    */
  private def withCosineAtLeast(df: DataFrame, dot: Column, tau: Double): DataFrame =
    df.filter(dot >= tau - 1e-4)
      .withColumn("cos", round(dot, 4))
      .filter(col("cos") >= tau)

  /** Exact-cosine verification of candidate id pairs against the embedding
    * relation — the embedding twin of [[verifyJaccard]] (ids-only candidate
    * shuffle; the wide vectors re-join once per side).
    */
  private[graft] def verifyCosine(candIds: DataFrame, embs: DataFrame,
      tau: Double = CosineTau): DataFrame = {
    val e = cosineEmbOf(embs)
    val a = candIds.join(e.select(col("vec_id").as("id_a"), col("emb").as("ea")), "id_a")
    withCosineAtLeast(a.join(e.select(col("vec_id").as("id_b"), col("emb").as("eb")), "id_b"),
      expr("graft_dot(ea, eb)"), tau)
      .select("id_a", "id_b", "cos")
  }

  def dedupEmbeddingSrpSql: String = dedupEmbeddingSrpSqlFor("embeddings")

  private[graft] def dedupEmbeddingSrpSqlFor(rel: String): String = {
    val bits = SrpBits
    val bandBits = SrpBandBits
    s"""WITH scaled AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * ${Clustering.Scale}) AS BIGINT)) AS se
       |  FROM $rel
       |), ev AS (
       |  SELECT vec_id, unnest(se) AS v, unnest(generate_series(1, len(se))) AS pos FROM scaled
       |), proj AS (
       |  SELECT vec_id, bit,
       |    SUM(v * (${srpPlaneDuck("bit", "(pos - 1)")})) AS dot
       |  FROM ev CROSS JOIN (SELECT unnest(generate_series(0, ${bits - 1})) AS bit) bt
       |  GROUP BY vec_id, bit
       |), bands AS (
       |  SELECT vec_id, CAST(bit // $bandBits AS BIGINT) AS band_id,
       |    SUM(CAST(CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS BIGINT) * (CAST(1 AS BIGINT) << (bit % $bandBits))) AS band_val
       |  FROM proj GROUP BY vec_id, bit // $bandBits
       |), cool AS (
       |  SELECT band_id, band_val FROM bands
       |  GROUP BY band_id, band_val HAVING count(*) <= $SrpHotBandDocs
       |), bb AS (
       |  SELECT b.* FROM bands b JOIN cool USING (band_id, band_val)
       |), probes AS (
       |  SELECT vec_id, band_id,
       |    CASE WHEN j < 0 THEN band_val ELSE xor(band_val, CAST(1 AS BIGINT) << j) END AS band_val
       |  FROM bb CROSS JOIN (SELECT unnest(generate_series(-1, ${bandBits - 1})) AS j) jt
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM probes a JOIN bb b ON a.band_id = b.band_id AND a.band_val = b.band_val
       |    AND a.vec_id < b.vec_id
       |)
       |SELECT id_a, id_b,
       |  round(list_inner_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) AS cos
       |FROM cand
       |JOIN embeddings ea ON id_a = ea.vec_id
       |JOIN embeddings eb ON id_b = eb.vec_id
       |WHERE round(list_inner_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) >= $CosineTau
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** `dedup_embedding_srp_delta`: INCREMENTAL embedding dedup — the batch
    * delta-vs-persisted-SRP-index lane, closing the matrix the MinHash side
    * already has ([[dedupDelta]] batch / [[graft.streaming.StreamOps]]
    * streaming): a new crawl's embeddings dedup against the stored SRP band
    * index without re-projecting the base corpus. Same split convention as
    * `dedup_delta` (vec_id ≡ 0 mod [[DeltaIdMod]] plays the new crawl).
    */
  def dedupEmbeddingSrpDelta(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val isDelta = col("vec_id") % DeltaIdMod === 0
    val base = e.filter(!isDelta)
    srpDeltaFrom(base,
      storedIndex(spark, "srpbands", dir)(srpBandRows(base)),
      e.filter(isDelta))
  }

  /** The incremental SRP core over an ALREADY-built base index — `baseEmb`
    * (vec_id, embedding) and `baseBands` (vec_id, band_id, band_val) are
    * what production persists at index time ([[srpBandRows]] output; a
    * bucketed-by-(band_id, band_val) write makes every per-crawl join read
    * the index pre-partitioned — spec-audited like the MinHash index).
    * Only the delta is projected/banded here.
    *
    * Semantics contract: IDENTICAL to full-corpus [[dedupEmbeddingSrp]]
    * restricted to pairs touching a delta vector (the oracle checks exactly
    * that). Two properties make that hold with delta-sized work:
    *
    *  - probing is symmetric ([[srpProbes]]): a delta row and a base row
    *    whose band values differ by at most one bit sit in each other's
    *    probe sets, so every delta-touching pair lies inside the touched
    *    buckets, and the bucket kernel ([[srpBucketPairs]]) scores it with
    *    the delta rows flagged (pairs of two base rows are dropped);
    *  - only buckets in the delta's PROBE set (its band values + their
    *    single-bit flips) can host a delta-touching candidate, and both
    *    endpoints' occupancy buckets lie in that set — so the stored index
    *    is restricted to probe-touched buckets BEFORE any aggregation, and
    *    the hot-band cap (base + delta occupancy per bucket) equals the
    *    full-corpus cap exactly where it matters. The touched list is
    *    delta-sized (AQE broadcasts it); the index is scanned once,
    *    shuffled never.
    */
  def srpDeltaFrom(baseEmb: DataFrame, baseBands: DataFrame,
      deltaEmb: DataFrame): DataFrame = {
    SrpStamp.check(baseBands, "stored SRP band index")
    val deltaBands = persistIntermediate(srpBandRows(deltaEmb, keepEmb = true))
    val keys = Seq("band_id", "band_val")
    val touched = srpProbes(deltaBands).select("band_id", "band_val").distinct()
    val baseTouched = persistIntermediate(baseBands.join(touched, keys))
    // full-corpus bucket occupancy without re-projecting base vectors:
    // stored index count + delta count (probe-touched buckets only)
    val cool = srpCoolKeys(baseTouched.select("band_id", "band_val")
      .unionByName(deltaBands.select("band_id", "band_val")))
    val b = baseTouched.join(cool, keys)
      .join(cosineEmbOf(baseEmb), Seq("vec_id"))
      .withColumn("flag", lit(false))
    val d = deltaBands.join(cool, keys).withColumn("flag", lit(true))
    srpBucketPairs(b.unionByName(d))
      .contractOrderBy("id_a", "id_b")
  }

  /** Oracle: the FULL-corpus SRP pipeline restricted to pairs touching a
    * delta vector — the equivalence the incremental path must reproduce.
    */
  def dedupEmbeddingSrpDeltaSql: String =
    s"""SELECT id_a, id_b, cos FROM (
       |$dedupEmbeddingSrpSql
       |) t
       |WHERE id_a % $DeltaIdMod = 0 OR id_b % $DeltaIdMod = 0
       |ORDER BY id_a, id_b""".stripMargin

  /** Docs with doc_id ≡ 0 (mod this) play the NEW crawl snapshot in
    * [[dedupDelta]]; the rest are the already-indexed base corpus.
    */
  val DeltaIdMod = 10

  /** `dedup_delta`: INCREMENTAL dedup — the production shape at 100 TB. A
    * new crawl snapshot (delta) dedups against the existing corpus via the
    * corpus's persisted band index, without recomputing LSH over the base:
    *
    *  1. the base band index ([[bandTableOf]] of the base corpus) is built
    *     once and persisted — in production written by Sinks at index time
    *     and only READ here; base documents are never re-shingled per crawl.
    *  2. delta docs are shingled + banded (delta-sized work only),
    *  3. candidates = delta×base band join + delta-internal band self-join,
    *  4. exact Jaccard verify, delta-sized.
    *
    * The hot-bucket cap counts base + delta occupancy per bucket — the base
    * side comes from grouping the stored index, so the cap equals the
    * full-corpus cap exactly and the output is IDENTICAL to full-corpus
    * [[dedupMinhashLsh]] restricted to pairs touching a delta doc (the
    * oracle checks precisely that; DedupDeltaSpec asserts it in-engine).
    * Per-crawl cost is O(delta·bands + candidate pairs), not O(corpus).
    */
  def dedupDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isDelta = col("doc_id") % DeltaIdMod === 0
    val sets = storedIndex(spark, "mhsets", dir, persist = true)(
      hashedShingleSetsOf(docs.filter(!isDelta)))
    dedupDeltaFrom(sets, storedIndex(spark, "mhbands", dir)(bandTableOf(sets)),
      docs.filter(isDelta))
  }

  /** The incremental core over an ALREADY-built base index — `baseSets`
    * (doc_id, hs) and `baseBands` (doc_id, band_id, band_hash) are exactly
    * what production persists at index time (both are plain columnar
    * tables; a parquet round-trip through [[graft.sources.Sinks]] preserves
    * them bit-exactly — spec-asserted). Only the delta is shingled/banded
    * here.
    */
  def dedupDeltaFrom(baseSets: DataFrame, baseBands0: DataFrame,
      deltaDocs: DataFrame): DataFrame = {
    // fail fast if the stored index was banded under a different conf —
    // a silent mismatch would drop every cross-generation near-dup
    BandingStamp.check(baseBands0, "stored base band index")
    val deltaSets = persistIntermediate(hashedShingleSetsOf(deltaDocs))
    dedupDeltaPrepared(baseSets, baseBands0, deltaSets,
      persistIntermediate(bandTableOf(deltaSets)))
  }

  /** The incremental core once BOTH snapshots are already shingled and
    * banded — the seam [[graft.streaming.StreamOps.IncrementalDedupIndex]]
    * feeds per micro-batch (it shingles each batch exactly once, runs this,
    * then appends the batch's sets/bands to the index it keeps).
    */
  private[graft] def dedupDeltaPrepared(baseSets: DataFrame, baseBands0: DataFrame,
      deltaSets: DataFrame, deltaBands0: DataFrame): DataFrame = {
    val deltaBands = persistIntermediate(deltaBands0)
    // only buckets the DELTA touches can produce candidates, so restrict
    // the stored index to them before any aggregation: the touched-bucket
    // list is delta-sized (AQE broadcasts it; a pathological delta falls
    // back to a key-shuffle and stays correct), so per-crawl shuffle and
    // occupancy-agg work is bounded by delta-touched bucket contents —
    // NEVER the whole index. The index is scanned once, shuffled never;
    // production bucketing the stored index by band_hash would prune the
    // scan too. The cap decision for untouched buckets is irrelevant by
    // construction, so this is semantics-preserving (oracle-checked).
    val touched = deltaBands.select("band_id", "band_hash").distinct()
    val baseTouched = persistIntermediate(
      baseBands0.join(touched, Seq("band_id", "band_hash")))
    // full-corpus bucket occupancy without rescanning base text: stored
    // index count + delta count (touched buckets only)
    val cool = baseTouched.unionByName(deltaBands)
      .groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= HotBandDocs)
      .select("band_id", "band_hash")
    val b = baseTouched.join(cool, Seq("band_id", "band_hash"))
    val d = deltaBands.join(cool, Seq("band_id", "band_hash"))
    val deltaBase = d.as("a").join(b.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_hash") === col("b.band_hash"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val deltaDelta = d.as("a").join(d.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val candIds = deltaBase.unionByName(deltaDelta).distinct()
    verifyJaccard(candIds, baseSets.unionByName(deltaSets), MinHashTau)
      .contractOrderBy("doc_a", "doc_b")
  }

  /** Oracle: the FULL-corpus LSH pipeline restricted to pairs touching a
    * delta doc — the equivalence the incremental path must reproduce.
    */
  def dedupDeltaSql: String =
    s"""SELECT doc_a, doc_b, jaccard FROM (
       |$dedupMinhashLshSql
       |) t
       |WHERE doc_a % $DeltaIdMod = 0 OR doc_b % $DeltaIdMod = 0
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dedup_exact_delta ----------------------------------------------------

  /** The persisted EXACT-lane index: one (doc_id, content_hash) row per
    * base doc — what production keeps next to the band/SRP/winnow
    * indexes (the hash column is conf-free: [[normText]] + md5 has no
    * knobs to drift).
    */
  def exactHashIndexOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(normText(col("text"))).as("content_hash"))

  /** `dedup_exact_delta` (r11): INCREMENTAL exact dedup — the new
    * crawl's verdict against the stored content-hash index, closing the
    * last gap in the incremental matrix (MinHash, SRP, winnow and now
    * the EXACT lane all run delta-vs-stored-index; the exact lane is the
    * one every production pipeline runs FIRST, because byte-identical
    * re-crawls are the bulk of crawl redundancy and one hash join
    * removes them before any expensive lane runs).
    *
    * Per delta doc: content hash, the canonical doc of its content group
    * across base ∪ delta (min doc_id — the [[dedupExact]] convention),
    * the group's total size, and a status the act step switches on:
    * `new` (content never seen), `dup_of_base` (drop — the base ALREADY
    * holds the content, regardless of which doc_id is the group
    * canonical), `first_copy` (this doc is the canonical of content
    * duplicated within the delta and unseen in the base),
    * `dup_in_delta` (drop; the canonical is an earlier delta doc). The
    * keep rule "new ∪ first_copy" therefore never retains content the
    * base corpus has.
    *
    * Scale (the [[dedupDeltaFrom]] discipline): the stored index is
    * restricted to delta-TOUCHED hashes before any aggregation (the
    * touched list is delta-sized), so per-crawl work is O(delta + its
    * hash matches), never O(corpus); one hash-grain join + two
    * delta-sized aggregations, no windows. Oracle: the FULL-corpus
    * [[dedupExact]] grouping restricted to delta docs — the independent
    * formulation the incremental path must reproduce.
    */
  def dedupExactDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isDelta = col("doc_id") % DeltaIdMod === 0
    dedupExactDeltaFrom(
      storedIndex(spark, "exact", dir)(exactHashIndexOf(docs.filter(!isDelta))),
      docs.filter(isDelta))
  }

  /** The incremental core over an ALREADY-built (doc_id, content_hash)
    * index — the seam the parquet-round-trip spec drives.
    */
  def dedupExactDeltaFrom(index: DataFrame, deltaDocs: DataFrame): DataFrame = {
    val dh = persistIntermediate(exactHashIndexOf(deltaDocs))
    val touched = dh.select("content_hash").distinct()
    // restrict the stored index to delta-touched hashes BEFORE the
    // aggregation — the delta-sized touched list broadcasts under AQE
    val baseAgg = index.join(touched, Seq("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("base_min"), count(lit(1)).as("n_base"))
    val deltaAgg = dh.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("delta_min"), count(lit(1)).as("n_delta"))
    dh.join(baseAgg, Seq("content_hash"), "left")
      .join(deltaAgg, Seq("content_hash"))
      .withColumn("canonical_doc",
        when(col("base_min").isNull, col("delta_min"))
          .otherwise(least(col("base_min"), col("delta_min"))))
      .withColumn("group_size", coalesce(col("n_base"), lit(0L)) + col("n_delta"))
      .withColumn("status",
        // dup_of_base wins whenever the base ALREADY holds the content —
        // even when this delta doc is the group canonical by id (possible
        // when the delta doc_id is below base_min under a non-monotonic
        // id carving): an act step keeping new/first_copy must never
        // retain a duplicate of base content
        when(col("group_size") === 1, "new")
          .when(col("base_min").isNotNull, "dup_of_base")
          .when(col("canonical_doc") === col("doc_id"), "first_copy")
          .otherwise("dup_in_delta"))
      .select("doc_id", "content_hash", "canonical_doc", "group_size", "status")
      .contractOrderBy("doc_id")
  }

  /** Oracle: full-corpus content-hash groups restricted to delta rows —
    * independent of the touched-hash restriction the engine applies.
    */
  def dedupExactDeltaSql: String =
    s"""WITH xh AS (
       |  SELECT doc_id, md5($normTextSql) AS content_hash FROM documents
       |), xg AS (
       |  SELECT content_hash, count(*) AS cnt,
       |    min(CASE WHEN doc_id % $DeltaIdMod <> 0 THEN doc_id END) AS base_min,
       |    min(CASE WHEN doc_id % $DeltaIdMod = 0 THEN doc_id END) AS delta_min
       |  FROM xh GROUP BY content_hash
       |)
       |SELECT h.doc_id, h.content_hash,
       |  CASE WHEN g.base_min IS NULL THEN g.delta_min
       |       ELSE least(g.base_min, g.delta_min) END AS canonical_doc,
       |  CAST(g.cnt AS BIGINT) AS group_size,
       |  CASE WHEN g.cnt = 1 THEN 'new'
       |       WHEN g.base_min IS NOT NULL THEN 'dup_of_base'
       |       WHEN g.delta_min = h.doc_id THEN 'first_copy'
       |       ELSE 'dup_in_delta' END AS status
       |FROM xh h JOIN xg g USING (content_hash)
       |WHERE h.doc_id % $DeltaIdMod = 0
       |ORDER BY h.doc_id""".stripMargin

  // ---- dedup_media_delta ----------------------------------------------------

  /** `dedup_media_delta` (r12): INCREMENTAL media dedup — the act-step
    * verdict for a new crawl's media payloads against the stored
    * (doc_id, modality, canonical-content-hash) index
    * ([[mediaHashIndexOf]], conf-free like the exact lane), making the
    * per-lane incremental matrix literally all-lanes (exact, media,
    * MinHash, SRP, winnow, SimHash — and the unified composition). Same
    * grouping as the unified edge set's media lane: byte-identical
    * payloads of DIFFERENT modalities never group (the `doc_id % 3`
    * modality carving of [[Multimodal.mediaTable]]). Statuses follow
    * [[dedupExactDeltaFrom]]'s rule, including the r11-advice precedence:
    * `dup_of_base` whenever the base already holds the (modality,
    * content) pair — even when the delta doc is the group canonical by
    * id — so keep(new ∪ first_copy) never retains base media. Per-crawl
    * cost O(delta + touched-hash matches): the index restricts to
    * delta-touched (modality, hash) keys before any aggregation.
    */
  def dedupMediaDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isDelta = col("doc_id") % DeltaIdMod === 0
    dedupMediaDeltaFrom(
      storedIndex(spark, "media", dir)(mediaHashIndexOf(docs.filter(!isDelta))),
      docs.filter(isDelta))
  }

  /** The incremental core over an ALREADY-built media index — the
    * parquet-round-trip spec seam.
    */
  def dedupMediaDeltaFrom(index: DataFrame, deltaDocs: DataFrame): DataFrame = {
    val dh = persistIntermediate(mediaHashIndexOf(deltaDocs))
    val touched = dh.select("mod3", "h").distinct()
    val baseAgg = index.join(touched, Seq("mod3", "h"))
      .groupBy(col("mod3"), col("h"))
      .agg(min(col("doc_id")).as("base_min"), count(lit(1)).as("n_base"))
    val deltaAgg = dh.groupBy(col("mod3"), col("h"))
      .agg(min(col("doc_id")).as("delta_min"), count(lit(1)).as("n_delta"))
    dh.join(baseAgg, Seq("mod3", "h"), "left")
      .join(deltaAgg, Seq("mod3", "h"))
      .withColumn("canonical_doc",
        when(col("base_min").isNull, col("delta_min"))
          .otherwise(least(col("base_min"), col("delta_min"))))
      .withColumn("group_size", coalesce(col("n_base"), lit(0L)) + col("n_delta"))
      .withColumn("status",
        when(col("group_size") === 1, "new")
          .when(col("base_min").isNotNull, "dup_of_base")
          .when(col("canonical_doc") === col("doc_id"), "first_copy")
          .otherwise("dup_in_delta"))
      .select(col("doc_id"), col("mod3").as("modality"), col("h").as("media_hash"),
        col("canonical_doc"), col("group_size"), col("status"))
      .contractOrderBy("doc_id")
  }

  /** Oracle: full-corpus (modality, content-hash) groups restricted to
    * delta rows — independent of the touched-key restriction.
    */
  def dedupMediaDeltaSql: String =
    s"""WITH mxh AS (
       |  SELECT doc_id, doc_id % 3 AS modality, md5($normTextSql) AS media_hash
       |  FROM documents
       |), mxg AS (
       |  SELECT modality, media_hash, count(*) AS cnt,
       |    min(CASE WHEN doc_id % $DeltaIdMod <> 0 THEN doc_id END) AS base_min,
       |    min(CASE WHEN doc_id % $DeltaIdMod = 0 THEN doc_id END) AS delta_min
       |  FROM mxh GROUP BY modality, media_hash
       |)
       |SELECT h.doc_id, h.modality, h.media_hash,
       |  CASE WHEN g.base_min IS NULL THEN g.delta_min
       |       ELSE least(g.base_min, g.delta_min) END AS canonical_doc,
       |  CAST(g.cnt AS BIGINT) AS group_size,
       |  CASE WHEN g.cnt = 1 THEN 'new'
       |       WHEN g.base_min IS NOT NULL THEN 'dup_of_base'
       |       WHEN g.delta_min = h.doc_id THEN 'first_copy'
       |       ELSE 'dup_in_delta' END AS status
       |FROM mxh h JOIN mxg g USING (modality, media_hash)
       |WHERE h.doc_id % $DeltaIdMod = 0
       |ORDER BY h.doc_id""".stripMargin

  /** Cap on the distributed connected-components loop's rounds
    * (`spark.graft.dedup.ccMaxIters`). Rounds grow with the longest
    * near-dup chain the loop must close — about one hop per round on a
    * chain whose ids are not ordered along it — so the cap bounds the
    * chain length the loop can label, and a loop that reaches it without
    * converging throws rather than return partial components.
    */
  def CcMaxIters: Int = GraftConf.ccMaxIters

  /** `dedup_clusters`: near-dup CLUSTERS — the step after pair generation
    * that an actual dedup pipeline keeps: connected components over the
    * [[dedupMinhashLsh]] pair graph, one row per member doc with its
    * cluster id (min doc_id in the component), cluster size, and whether
    * this doc is the canonical representative to KEEP (everything else is
    * the drop list).
    *
    * Distributed min-label propagation WITH pointer jumping: each round
    * every node takes the min label over itself, its neighbors, and its
    * label's label. The jump shortens chains whose ids rise along the
    * chain, but in general a round closes about one hop, so rounds track
    * the longest chain (capped by [[CcMaxIters]]); each round is one
    * key-shuffle edge join + one label self-join + one map-side-combined
    * min aggregation over the EDGE set only (near-dup edges are a tiny
    * fraction of corpus size at 100 TB — the corpus-scale work already
    * happened in LSH). The per-round convergence action is by design:
    * iterate-to-fixpoint needs a termination test; its input is the label
    * table, not the corpus.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersRaw(spark, dir).contractOrderBy("doc_id")

  private def dedupClustersRaw(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(storedMinhashPairs(spark, dir))

  /** The MinHash-lane pair table for `dir` through the bench-session
    * artifact cache (r18) — the [[storedTaggedPairs]] discipline applied
    * to the LEXICAL-ONLY act rows: `dedup_clusters`, `dedup_keep` and
    * `dedup_keep_best` all cluster over this one pair graph ("detect
    * once, act many" — production persists the detect row's output and
    * every act step reads it; `dedup_minhash_lsh` itself stays the
    * in-query detection being measured). Plan-only: the default Verify
    * posture leaves the cache off and the verify finals' cache-on pass
    * turns it on; parity is the oracle gate per row in both.
    */
  private def storedMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    storedIndex(spark, "mhpairs", dir)(
      minhashPairsOf(Tables.documents(spark, dir)).select("doc_a", "doc_b"))

  /** Connected components over a (doc_a, doc_b[, cc_grp]) pair relation →
    * (doc_id, cluster_id, cluster_size, is_canonical) with min-id labels —
    * the one CC entry point of every dedup act row.
    *
    * `cc_grp` is optional and must be CLOSED: no edge crosses groups
    * (retract's old cluster ids, SemDeDup's k-means cells), so the union of
    * the per-group labelings is the global labeling. Without it the whole
    * relation is one group. Routing happens inside the plan: a group with
    * at most [[GraftConf.ccLocalMaxEdges]] edges closes in-row through the
    * exact `graft_cc_local` union-find; the edges of larger groups go to
    * the distributed pointer-jump loop, so an over-cap group is never
    * gathered into one row. The router reads no job's result back to the
    * driver to pick a path: the split is in the plan. Taking the `routed`
    * checkpoint below runs its group-size stages once (AQE executes a
    * plan's exchanges when it is checkpointed); the loop's first label
    * job, which the loop runs anyway, materializes it and finds whether
    * any over-cap edge exists, and the final action reads it for the
    * in-row side. Both paths are exact CC — the loop whenever it
    * converges within [[CcMaxIters]] rounds, and it throws when it does
    * not; ClustersFromPairsSpec asserts them equal, and
    * tools/knob_sweep.sh runs cap 1, which puts every caller on the loop.
    */
  private[graft] def clustersFromPairs(pairs: DataFrame): DataFrame = {
    val grp = if (pairs.columns.contains("cc_grp")) Seq("cc_grp") else Nil
    // lazy localCheckpoints, not persist: both sides read `routed` — a
    // persist would embed the (possibly five-lane-deep) pair lineage once
    // per reader in the final plan, the checkpoint truncates it to one RDD
    // scan. The group sizes (one row per group) are broadcast so no group's
    // edges are ever shuffled together just to learn its size.
    val tagged = pairs.select((Seq("doc_a", "doc_b") ++ grp).map(col): _*)
      .localCheckpoint(false)
    val routed = tagged
      .join(broadcast(tagged.groupBy(grp.map(col): _*).agg(count(lit(1)).as("n_edges"))), grp)
      .withColumn("in_row", col("n_edges") <= GraftConf.ccLocalMaxEdges)
      .localCheckpoint(false)
    val inRow = ccLocalOf(routed.filter(col("in_row"))
      .groupBy(grp.map(col): _*)
      .agg(collect_list(struct(col("doc_a"), col("doc_b"))).as("es")))
    inRow.unionByName(clustersFromPairsLoop(
      routed.filter(!col("in_row")).select("doc_a", "doc_b")))
  }

  /** Explode one `es` edge-array column through `graft_cc_local` into the
    * (doc_id, cluster_id, cluster_size, is_canonical) labeling — the
    * in-row twin of [[clustersFromPairsLoop]]'s output contract.
    */
  private def ccLocalOf(grouped: DataFrame): DataFrame =
    grouped.select(explode(expr("graft_cc_local(es)")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.cluster_id").as("cluster_id"),
        col("r.cluster_size").as("cluster_size"),
        (col("r.doc_id") === col("r.cluster_id")).as("is_canonical"))

  /** The distributed pointer-jump loop — where [[clustersFromPairs]]
    * sends the edges of over-cap groups.
    */
  private def clustersFromPairsLoop(pairs: DataFrame): DataFrame = {
    // one scan emits both edge directions plus a self-loop per endpoint,
    // so a round's propagation over `edges` already carries every node's
    // own label and the loop needs no union at all. A union of the label
    // table with its own propagation trips Catalyst's union-constraint
    // rewrite (`key not found` on the shared-subplan attribute ids when
    // `pairs` is a local relation, observed on Spark 4.1). Not persisted:
    // `pairs` reads the router's checkpoint, so each round's re-derivation
    // is one in-memory scan, and a cached copy would cost a job of its
    // own under AQE.
    val edges = pairs.selectExpr(
      """inline(array(named_struct('src', doc_a, 'dst', doc_b),
        |             named_struct('src', doc_b, 'dst', doc_a),
        |             named_struct('src', doc_a, 'dst', doc_a),
        |             named_struct('src', doc_b, 'dst', doc_b)))""".stripMargin)
    // round-0 labels = min over self + direct neighborhood (not just self):
    // near-dup components are mostly CLIQUES (every pair similar), which
    // this initialization already labels correctly — the loop then runs a
    // single confirming round instead of two propagation rounds.
    //
    // Each round's label table is localCheckpoint-ed: iterative
    // lineage otherwise nests the whole previous round's plan per round
    // (exponential recompute if a cached block is ever evicted, and a plan
    // tree that grows without bound). Production on a real cluster would
    // use reliable `checkpoint()` to survive executor loss; the truncation
    // point is the same. The checkpoint is LAZY: the label-sum job below
    // is the first action on each round's labels and materializes it.
    var labels =
      edges.groupBy(col("dst").as("id")).agg(min("src").as("comp"))
        .localCheckpoint(false)
    // Convergence test without an extra join-and-count job: labels only ever
    // DECREASE under min-propagation over a fixed node set, so sum(comp) is
    // strictly monotone until the fixpoint. One single-stage RDD job per
    // round (a DataFrame agg is two under AQE: its exchange stage and the
    // result). The sum is an exact BigInt: labels are doc ids of up to 63
    // bits (the WARC bridge's md5 ids), and a bigint sum overflows — ANSI
    // raises — once a few of them add up. The round-0 job also counts the
    // nodes: none means no over-cap edge reached the loop.
    def labelSum(df: DataFrame): (BigInt, Long) =
      df.select(col("comp")).rdd.aggregate((BigInt(0), 0L))(
        (acc, r) => (acc._1 + r.getLong(0), acc._2 + 1L),
        (x, y) => (x._1 + y._1, x._2 + y._2))
    // pointer jump: adopt the label OF the label — comp(v) is itself a
    // node id, so a self-join on the (small) label table skips ahead where
    // a node's label already points further down the chain. That cuts
    // the rounds on chains whose ids rise along them (the unified oracle
    // caught plain propagation at the 20-round cap on exactly such a
    // chain), but on a chain with shuffled ids a round still closes about
    // one hop, so rounds track the longest chain, not its log.
    def jump(ls: DataFrame): DataFrame =
      ls.as("l")
        .join(ls.select(col("id").as("jid"), col("comp").as("jcomp")).as("p"),
          col("l.comp") === col("p.jid"), "left_outer")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("jcomp"), col("l.comp"))).as("comp"))
    val (sum0, nodes) = labelSum(labels)
    var prevSum = sum0
    var converged = false
    var iter = 0
    while (nodes > 0L && !converged && iter < CcMaxIters) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      val viaEdges = prop.groupBy("id").agg(min("comp").as("comp"))
      // one jump per round: a second jump would save ~1 round but costs a
      // second label self-join every round — measured slower at every scale
      // tried (the label table is small; per-round joins, not depth,
      // dominate)
      val next = jump(viaEdges).localCheckpoint(false)
      val nextSum = labelSum(next)._1
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      iter += 1
    }
    if (nodes > 0L && !converged)
      throw new IllegalStateException(
        s"connected components did not converge in $iter rounds; raise " +
          "spark.graft.dedup.ccMaxIters (a near-dup chain longer than the cap)")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    // no nodes: limit 0 folds to an empty relation at optimization, so the
    // router's final plan drops the loop side instead of scanning it
    (if (nodes > 0L) labels else labels.limit(0))
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
  }

  /** `dedup_keep`: the ACT step of the dedup stack — emit the training-ready
    * corpus: every document untouched by any near-dup cluster plus exactly
    * one canonical representative per cluster, each tagged with why it
    * survived. This is the row-level output a pipeline actually writes back
    * out after detect → cluster.
    *
    * Scale shape: the cluster membership table is near-dup rows only (a
    * small fraction of the corpus); the corpus joins it ONCE on doc_id —
    * a key-shuffle left join at 100 TB (membership can exceed broadcast
    * size), with AQE free to broadcast when it is small.
    */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame =
    dedupKeepFrom(Tables.documents(spark, dir), dedupClustersRaw(spark, dir))

  /** The ACT step over an ALREADY-computed cluster table — the seam a real
    * pipeline uses to express the shared detect → cluster → act lineage:
    * compute [[dedupClusters]] once, write it, then act on it any number of
    * times (keep-list here, drop-list/audit elsewhere) without recomputing
    * LSH + connected components per consumer.
    */
  def dedupKeepFrom(documents: DataFrame, clusters: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), col("source"))
      .join(clusters.select("doc_id", "cluster_id", "cluster_size", "is_canonical"),
        Seq("doc_id"), "left_outer")
      .filter(col("is_canonical").isNull || col("is_canonical"))
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("cluster_id").isNull, "unique").otherwise("canonical").as("status"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .contractOrderBy("doc_id")

  /** Oracle: transitive closure as a recursive CTE over the SAME pair
    * query (DuckDB allows a WITH inside a derived table) — min reachable
    * id per node = the component id, independently of the propagation
    * algorithm used on the Spark side.
    */
  /** Recursive-closure CTE body over an arbitrary `pairs(doc_a, doc_b)`
    * SELECT, ending in `cc(id, cluster_id)` — reused by `dedup_clusters`,
    * `dedup_keep` AND `dedup_keep_unified`, so every cluster-consuming
    * oracle derives from the identical transitive closure.
    */
  private def closureCtes(pairsBody: String, prelude: String = ""): String =
    s"""WITH RECURSIVE ${if (prelude.isEmpty) "" else s"$prelude,\n"}pairs AS (
       |$pairsBody
       |), edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS s, doc_a AS d FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT s AS id FROM edges
       |), walk(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id
       |), cc AS (
       |  SELECT id, min(comp) AS cluster_id FROM walk GROUP BY id
       |)""".stripMargin

  private def dedupClustersCtes: String =
    closureCtes(
      s"""  SELECT doc_a, doc_b FROM (
         |$dedupMinhashLshSql
         |  ) t""".stripMargin)

  /** Keep-list footer over `cc` — shared by the MinHash-only and unified
    * keep oracles (the SELECT is identical; only the edge set differs).
    */
  private val keepTailSql: String =
    s""", sized AS (
       |  SELECT id, cluster_id,
       |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |  FROM cc
       |)
       |SELECT d.doc_id, d.lang, d.source,
       |  CASE WHEN s.cluster_id IS NULL THEN 'unique' ELSE 'canonical' END AS status,
       |  coalesce(s.cluster_size, 1) AS cluster_size
       |FROM documents d LEFT JOIN sized s ON d.doc_id = s.id
       |WHERE s.cluster_id IS NULL OR d.doc_id = s.cluster_id
       |ORDER BY d.doc_id""".stripMargin

  def dedupClustersSql: String =
    s"""$dedupClustersCtes
       |SELECT id AS doc_id, cluster_id,
       |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       |  id = cluster_id AS is_canonical
       |FROM cc
       |ORDER BY doc_id""".stripMargin

  def dedupKeepSql: String = dedupClustersCtes + keepTailSql

  /** Exact-duplicate edges (canonical → member star per content-hash group)
    * — the exact lane of the unified edge set. A star is linear in group
    * size (all-pairs within a 10⁶-copy boilerplate cluster would be 10¹²
    * edges) and yields the same connectivity.
    */
  private[graft] def exactEdgesOf(docs: DataFrame): DataFrame = {
    val hashes = docs.select(col("doc_id"), md5(normText(col("text"))).as("h"))
    val canons = hashes.groupBy(col("h"))
      .agg(min(col("doc_id")).as("canon"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("h", "canon")
    hashes.join(canons, "h")
      .filter(col("doc_id") =!= col("canon"))
      .select(col("canon").as("doc_a"), col("doc_id").as("doc_b"))
  }

  /** `dedup_keep_unified`: ONE keep-list from the UNION of every dedup
    * lane's edge set — exact content hash + MinHash-LSH (lexical near-dup)
    * + SRP embedding LSH (semantic near-dup) — the Gopher/SemDeDup
    * production shape. Running the lanes separately and keeping per-lane
    * canonicals over-keeps: a doc caught only by the embedding lane
    * survives a lexical-only keep-list, and two lanes can each keep a
    * different member of what is transitively one duplicate group. Here the
    * union edge set feeds ONE connected-components pass ([[clustersFromPairs]]
    * — CC cost tracks the combined EDGE set, still a tiny fraction of corpus
    * rows) and ONE corpus-grain keep join ([[dedupKeepFrom]]).
    *
    * Embedding ids join the doc graph directly: `embeddings.vec_id` IS the
    * document id (SURVEY §6 — one embedding per document).
    */
  def dedupKeepUnified(spark: SparkSession, dir: String): DataFrame =
    dedupKeepFrom(Tables.documents(spark, dir),
      clustersFromPairs(storedUnifiedPairs(spark, dir)))

  /** The full-corpus TAGGED five-lane pair table for `dir`, routed
    * through the bench-session artifact cache when
    * `spark.graft.bench.artifactDir` is set — the six one-shot unified
    * board rows (`dedup_keep_unified`, `dedup_keep_best_unified`,
    * `dedup_cluster_stats`, `dedup_lanes_report`, `corpus_curate`,
    * `pipeline_curate`) all derive from this ONE table, so the bench
    * board pays the five-lane derivation once per session instead of
    * once per row — the cost model production actually has (the lane
    * artifact is derived once per corpus version and every consumer
    * reads it). Plan-only: the default Verify posture leaves the cache
    * off and the verify finals' cache-on pass turns it on; the
    * amortized-vs-in-query parity is spec-asserted per consumer.
    */
  private[graft] def storedTaggedPairs(spark: SparkSession, dir: String): DataFrame =
    storedIndex(spark, "taggedpairs", dir)(
      taggedPairsOf(Tables.documents(spark, dir), Tables.embeddings(spark, dir)))

  /** The DISTINCT untagged unified pair set as its own session artifact
    * (r18, derived FROM the tagged artifact): the four unified CC
    * consumers (`dedup_keep_unified`, `dedup_keep_best_unified`,
    * `dedup_cluster_stats`, `corpus_curate`) each paid a pair-grain
    * distinct shuffle per run to drop the tag column — production
    * persists the edge set once next to the tagged table and CC reads it
    * directly.
    */
  private[graft] def storedUnifiedPairs(spark: SparkSession, dir: String): DataFrame =
    storedIndex(spark, "unipairs", dir)(
      storedTaggedPairs(spark, dir).select("doc_a", "doc_b").distinct())

  /** The unified keep core over explicit corpus + embedding relations — the
    * seam the spec plants semantic-only dup pairs through.
    */
  def dedupKeepUnifiedFrom(docs: DataFrame, embs: DataFrame): DataFrame =
    dedupKeepFrom(docs, clustersFromPairs(unifiedPairsOf(docs, embs)))

  /** Media-duplicate edges (canonical → member star per
    * (modality, canonical-content-hash) group) — the MEDIA lane of the
    * unified edge set, the Gopher-style image-dedup analog: crawled media
    * payloads differ in transport wrappers (EXIF junk, re-encodes), so the
    * lane hashes the CANONICAL content (decode → strip metadata → hash),
    * never the raw bytes. On the synthetic corpus the payload is the doc
    * text and the injected `dup` marker plays the metadata-junk role, so
    * canonicalization is the same [[normText]] the exact lane uses — but
    * partitioned by MODALITY ([[Multimodal.mediaTable]]'s `doc_id % 3`
    * rule), so byte-identical payloads of different media types never
    * pair. Star per group: linear, never all-pairs.
    */
  private[graft] def mediaEdgesOf(docs: DataFrame): DataFrame = {
    val hashes = docs.select(col("doc_id"), (col("doc_id") % 3).as("mod3"),
      md5(normText(col("text"))).as("h"))
    val canons = hashes.groupBy(col("mod3"), col("h"))
      .agg(min(col("doc_id")).as("canon"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("mod3", "h", "canon")
    hashes.join(canons, Seq("mod3", "h"))
      .filter(col("doc_id") =!= col("canon"))
      .select(col("canon").as("doc_a"), col("doc_id").as("doc_b"))
  }

  /** All five dedup lanes' edges, tagged with their lane — the ONE pair
    * table every unified consumer derives from: [[unifiedPairsOf]] drops
    * the tag and dedups, [[dedupLanesReport]] aggregates tag combinations,
    * and Curation's pipeline persists THIS table so the lanes run once per
    * pipeline instead of once per consumer. The winnow lane is containment
    * dedup ([[TextAnalysis.dedupWinnowContainOf]]) — the doc-in-doc dup
    * class whole-doc Jaccard misses.
    */
  private[graft] def taggedPairsOf(docs: DataFrame, embs: DataFrame): DataFrame =
    exactEdgesOf(docs)
      .select(col("doc_a"), col("doc_b"), lit("exact").as("lane"))
      .unionByName(mediaEdgesOf(docs)
        .select(col("doc_a"), col("doc_b"), lit("media").as("lane")))
      .unionByName(minhashPairsOf(docs)
        .select(col("doc_a"), col("doc_b"), lit("minhash").as("lane")))
      .unionByName(srpPairsOf(embs)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), lit("srp").as("lane")))
      .unionByName(TextAnalysis.dedupWinnowContainOf(docs)
        .select(col("doc_a"), col("doc_b"), lit("winnow").as("lane")))

  /** The union edge set of all three dedup lanes — the input every unified
    * consumer (keep-list, lanes report, corpus curation) clusters over.
    */
  private[graft] def unifiedPairsOf(docs: DataFrame, embs: DataFrame): DataFrame =
    // distinct: the lanes overlap heavily (an exact dup is also a MinHash
    // pair) — dedup edges before CC shuffles them per round
    taggedPairsOf(docs, embs).select("doc_a", "doc_b").distinct()

  /** `dedup_keep_best`: the keep-list with QUALITY-AWARE canonical
    * selection — production dedup (Gopher, FineWeb) keeps each cluster's
    * highest-quality member, not its lowest id: near-dup clusters mix a
    * clean original with truncated/boilerplate-wrapped copies, and min-id
    * keeps whichever was crawled first. Canonical = argmax of
    * `quality_score`'s composite (compared as the EXACT pre-division
    * integer, so the pick can never float-flip cross-engine), ties to the
    * lower doc_id. Unique docs pass through; every kept row carries its
    * quality score.
    *
    * Scale shape: quality is one corpus scan; the argmax window runs over
    * the MEMBERSHIP table only (near-dup rows, a small fraction of the
    * corpus — never a corpus-wide window); the keep join is the same
    * corpus-grain key join as [[dedupKeep]].
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dedupKeepBestFrom(docs,
      clustersFromPairs(storedMinhashPairs(spark, dir)),
      TextAnalysis.qualityIntScoreOf(docs))
  }

  /** The quality-pick core over explicit cluster + score relations — the
    * compose-with-anything seam: feed it [[dedupClusters]] output for the
    * lexical-only keep or [[clustersFromPairs]] over the unified edge set,
    * and any (doc_id, qint) ranking (a model-based quality score slots in
    * unchanged).
    */
  def dedupKeepBestFrom(documents: DataFrame, clusters: DataFrame,
      scores: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("qint").desc, col("doc_id"))
    val ranked = clusters.select("doc_id", "cluster_id", "cluster_size")
      .join(scores, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select("doc_id", "cluster_id", "cluster_size", "rn")
    documents
      .select(col("doc_id"), col("lang"), col("source"))
      .join(ranked, Seq("doc_id"), "left_outer")
      .filter(col("rn").isNull || col("rn") === 1)
      .join(scores, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("cluster_id").isNull, "unique").otherwise("best").as("status"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        (col("qint").cast("double") / 100000.0).as("quality"))
      .contractOrderBy("doc_id")
  }

  /** Quality-argmax keep footer over `cc` — shared by the MinHash-only
    * and unified keep-best oracles (the SELECT is identical; only the
    * edge set under the closure differs, the [[keepTailSql]] pattern).
    */
  private val keepBestTailSql: String =
    s""", ${TextAnalysis.qualityIntCtesSql}
       |, sized AS (
       |  SELECT id, cluster_id,
       |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |  FROM cc
       |), ranked AS (
       |  SELECT s.id, s.cluster_id, s.cluster_size,
       |    row_number() OVER (PARTITION BY s.cluster_id ORDER BY q.qint DESC, s.id) AS rn
       |  FROM sized s JOIN qscore q ON s.id = q.doc_id
       |)
       |SELECT d.doc_id, d.lang, d.source,
       |  CASE WHEN r.cluster_id IS NULL THEN 'unique' ELSE 'best' END AS status,
       |  coalesce(r.cluster_size, 1) AS cluster_size,
       |  CAST(q.qint AS DOUBLE) / 100000.0 AS quality
       |FROM documents d
       |LEFT JOIN ranked r ON d.doc_id = r.id
       |JOIN qscore q ON d.doc_id = q.doc_id
       |WHERE r.id IS NULL OR r.rn = 1
       |ORDER BY d.doc_id""".stripMargin

  def dedupKeepBestSql: String = dedupClustersCtes + keepBestTailSql

  /** `dedup_keep_best_unified` (r13): the one-shot production act —
    * quality-argmax keep over the UNION of every lane's edge set,
    * closing the keep matrix ({MinHash-only, unified} × {min-id, best}
    * × {one-shot, per-crawl}; every other cell already ships). Pure
    * composition of proven cores: [[unifiedPairsOf]] →
    * [[clustersFromPairs]] → [[dedupKeepBestFrom]] — a doc caught only
    * semantically can't survive the keep, AND the survivor is the
    * cluster's best member, not its earliest-crawled copy. Oracle:
    * the shared unified closure + the shared quality-argmax footer.
    */
  def dedupKeepBestUnified(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dedupKeepBestFrom(docs,
      clustersFromPairs(storedUnifiedPairs(spark, dir)),
      TextAnalysis.qualityIntScoreOf(docs))
  }

  def dedupKeepBestUnifiedSql: String = unifiedClosureCtes + keepBestTailSql

  /** `dedup_lanes_report`: how the unified edge set decomposes — one row
    * per lane COMBINATION (`exact`, `exact+minhash`, `minhash+srp`, …) with
    * its pair count. This is the diagnostic a pipeline owner reads before
    * turning a lane off: pairs found by ONLY one lane are that lane's
    * marginal recall, pairs found by several are redundancy. Same lane
    * cores as [[dedupKeepUnified]] (exact = star edges, MinHash/SRP =
    * verified pairs); one tag-union + one (pair)-grain aggregation + one
    * tiny (lanes)-grain aggregation on top.
    */
  def dedupLanesReport(spark: SparkSession, dir: String): DataFrame = {
    val tagged = storedTaggedPairs(spark, dir)
    tagged
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(array_join(array_sort(collect_set(col("lane"))), "+").as("lanes"))
      .groupBy(col("lanes"))
      .agg(count(lit(1)).as("n_pairs"))
      .contractOrderBy("lanes")
  }

  /** The tagged three-lane edge CTE (`tagged`) — shared by
    * [[dedupLanesReportSql]] and Curation's pipeline oracle so both derive
    * their lane tags from the identical edge formulation.
    */
  private[graft] def taggedLanesCteSql: String =
    s"""tagged AS (
       |  SELECT canon AS doc_a, doc_id AS doc_b, 'exact' AS lane FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5($normTextSql)) AS canon
       |    FROM documents
       |  ) ex WHERE doc_id <> canon
       |  UNION ALL
       |  SELECT canon AS doc_a, doc_id AS doc_b, 'media' AS lane FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 3, md5($normTextSql)) AS canon
       |    FROM documents
       |  ) mx WHERE doc_id <> canon
       |  UNION ALL
       |  SELECT doc_a, doc_b, 'minhash' AS lane FROM (
       |$dedupMinhashLshSql
       |  ) mh
       |  UNION ALL
       |  SELECT id_a AS doc_a, id_b AS doc_b, 'srp' AS lane FROM (
       |$dedupEmbeddingSrpSql
       |  ) em
       |  UNION ALL
       |  SELECT doc_a, doc_b, 'winnow' AS lane FROM (
       |${TextAnalysis.dedupWinnowContainSql}
       |  ) wn
       |)""".stripMargin

  def dedupLanesReportSql: String =
    s"""WITH $taggedLanesCteSql, per_pair AS (
       |  SELECT doc_a, doc_b, string_agg(DISTINCT lane, '+' ORDER BY lane) AS lanes
       |  FROM tagged GROUP BY doc_a, doc_b
       |)
       |SELECT lanes, count(*) AS n_pairs
       |FROM per_pair GROUP BY lanes
       |ORDER BY lanes""".stripMargin

  /** The recursive-closure CTE chain (`pairs`/`edges`/…/`cc`) over the
    * UNIFIED edge set — shared by [[dedupKeepUnifiedSql]] and Curation's
    * corpus-curation oracle so both derive from the identical closure.
    */
  private[graft] def unifiedClosureCtes: String =
    closureCtes(unifiedPairsBodySql("documents", "embeddings"))

  /** The five-lane union edge body over arbitrary (doc, embedding)
    * relations — shared by the full-corpus unified closure and the
    * incremental oracle's base-only edge set.
    */
  private def unifiedPairsBodySql(docsRel: String, embsRel: String): String =
    s"""  SELECT canon AS doc_a, doc_id AS doc_b FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5($normTextSql)) AS canon
       |    FROM $docsRel
       |  ) ex WHERE doc_id <> canon
       |  UNION
       |  SELECT canon AS doc_a, doc_id AS doc_b FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 3, md5($normTextSql)) AS canon
       |    FROM $docsRel
       |  ) mx WHERE doc_id <> canon
       |  UNION
       |  SELECT doc_a, doc_b FROM (
       |${dedupMinhashLshSqlFor(docsRel)}
       |  ) mh
       |  UNION
       |  SELECT id_a AS doc_a, id_b AS doc_b FROM (
       |${dedupEmbeddingSrpSqlFor(embsRel)}
       |  ) em
       |  UNION
       |  SELECT doc_a, doc_b FROM (
       |${TextAnalysis.dedupWinnowContainSqlFor(docsRel)}
       |  ) wn""".stripMargin

  def dedupKeepUnifiedSql: String = unifiedClosureCtes + keepTailSql

  // ---- dedup_keep_unified_delta ---------------------------------------------

  /** `dedup_keep_unified_delta` (r12): the INCREMENTAL unified keep-list —
    * the structural piece the per-lane incremental matrix was building
    * toward. Every lane has a delta-vs-stored-index path (exact, media,
    * MinHash, SRP, winnow); this composes their delta pair sets with the
    * PERSISTED base cluster membership into the per-crawl act step,
    * without ever re-running a lane over the base corpus:
    *
    *   1. each base endpoint of a delta-touching pair CONTRACTS to its
    *      stored cluster id (one key join of the delta-sized pair set
    *      against the membership table; a base doc outside any stored
    *      cluster stands for itself) — stored labels already encode ALL
    *      base-base connectivity, so the contracted graph is the
    *      quotient of the merged corpus graph,
    *   2. connected components run on that contracted graph — delta-
    *      sized nodes/edges, never O(corpus); labels are min doc_ids, so
    *      a contracted component's label is the merged component's min
    *      member (stored cluster ids are their clusters' min ids),
    *   3. expansion joins touched stored clusters back through the
    *      membership table (one columnar scan of the stored label
    *      artifact — the act step must emit those rows anyway) and adds
    *      untouched delta docs as singleton verdicts.
    *
    * Output: one row per delta doc AND per base doc whose component the
    * crawl touched — (doc_id, cluster_id, cluster_size, origin, status);
    * status `unique` (singleton delta doc) / `canonical` (min of its
    * merged component — the keep) / `dup` (drop, or retire if a newly
    * merged cluster demotes a previously-kept base doc). Delta edges can
    * MERGE two base clusters through a delta doc; the emitted base rows
    * are exactly the membership updates production writes back.
    *
    * Semantics/oracle (the established delta discipline, lifted from
    * pairs to components): closure over (base-only unified edge set ∪
    * delta-touching full-corpus pair set) restricted to components
    * containing a delta doc. The base edge set is the BASE-ONLY lane run
    * (what the stored index actually encodes — base-time hot-bucket
    * occupancy), the delta-touching set uses full base∪delta occupancy
    * (each lane's own proven delta contract).
    */
  def dedupKeepUnifiedDelta(spark: SparkSession, dir: String): DataFrame =
    storedDeltaVerdicts(spark, dir)._2.contractOrderBy("doc_id")

  /** The standard crawl's (stored base membership, incremental verdict
    * table) — the ONE intermediate every verdict-consuming board row
    * acts on, stored as `deltaverdicts` ([[ArtifactCatalog.storedIndex]]).
    * Five rows (`dedup_keep_unified_delta`, `dedup_membership_apply`,
    * `dedup_delta_keep_best`, `corpus_curate_delta`,
    * `corpus_curate_delta_best`) each derive from the same contraction +
    * delta CC + expansion chain; storing the VERDICT table (not just the
    * base indexes it reads) makes a cached session pay that chain once
    * instead of once per row — the cost model production actually has
    * (the crawl's verdicts are computed once at act time and every
    * downstream step — write-back, quality re-rank, the curation funnel —
    * reads them).
    */
  private[graft] def storedDeltaVerdicts(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (stored0, deltaPairs, deltaDocs) = unifiedDeltaCarve(spark, dir)
    val stored = persistIntermediate(stored0)
    (stored, storedIndex(spark, "deltaverdicts", dir)(
      dedupKeepUnifiedDeltaFrom(stored, deltaPairs, deltaDocs)))
  }

  /** The standard base/delta carve + stored artifacts — (stored base
    * membership, five-lane delta pair set, delta docs) — shared by the
    * incremental verdict query, the membership write-back and the
    * quality-canonical act step. The query pays only the per-crawl work
    * it claims (touched-key index probes, contraction, delta-sized CC,
    * expansion) once the base artifacts are stored.
    */
  private[graft] def unifiedDeltaCarve(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val embs = Tables.embeddings(spark, dir)
    val isD = col("doc_id") % DeltaIdMod === 0
    val isDV = col("vec_id") % DeltaIdMod === 0
    val deltaDocs = docs.filter(isD)
    val (stored, ix) = storedUnifiedArtifacts(spark, dir, docs.filter(!isD),
      embs.filter(!isDV), persistSets = true)
    (stored, unifiedDeltaPairsPrepared(ix, deltaDocs, embs.filter(isDV)), deltaDocs)
  }

  /** The stored base artifacts — membership + the five lane indexes —
    * for an explicit base carve, under the names every other stored-index
    * consumer shares, so the whole board reads ONE store. In-query the
    * lanes are exactly [[unifiedIndexesOf]] (`persistSets` pins the
    * shingle sets both MinHash sides scan, the [[unifiedDeltaPairsOf]]
    * shape). Production reads these from the [[UnifiedDedupStore]] layout
    * instead.
    */
  private[graft] def storedUnifiedArtifacts(spark: SparkSession, dir: String,
      baseDocs: DataFrame, baseEmbs: DataFrame,
      persistSets: Boolean = false): (DataFrame, UnifiedIndexes) = {
    def art(name: String)(build: => DataFrame): DataFrame = storedIndex(spark, name, dir)(build)
    val stored = art("membership")(clustersFromPairs(unifiedPairsOf(baseDocs, baseEmbs)))
    val sets = storedIndex(spark, "mhsets", dir, persistSets)(hashedShingleSetsOf(baseDocs))
    (stored, UnifiedIndexes(
      art("exact")(exactHashIndexOf(baseDocs)),
      art("media")(mediaHashIndexOf(baseDocs)),
      sets,
      art("mhbands")(bandTableOf(sets)),
      baseEmbs,
      art("srpbands")(srpBandRows(baseEmbs)),
      art("winnowfps")(TextAnalysis.winnowFpIndexOf(baseDocs))))
  }

  /** Star edges over delta-TOUCHED hash groups: base members come from
    * the stored index restricted to delta-carried keys (never a base
    * rescan), the hub is the group min across base ∪ delta. Connectivity-
    * equal to the full lane's star inside touched groups (base-base star
    * edges duplicate connectivity the stored membership already holds —
    * harmless under the closure).
    */
  private def touchedStarEdges(baseIdx: DataFrame, deltaIdx: DataFrame,
      keys: Seq[String]): DataFrame = {
    val touched = deltaIdx.select(keys.map(col): _*).distinct()
    val members = baseIdx.join(touched, keys).unionByName(deltaIdx)
    val canons = members.groupBy(keys.map(col): _*)
      .agg(min(col("doc_id")).as("canon"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(keys.map(col) :+ col("canon"): _*)
    members.join(canons, keys)
      .filter(col("doc_id") =!= col("canon"))
      .select(col("canon").as("doc_a"), col("doc_id").as("doc_b"))
  }

  /** The media-lane (modality, canonical-content-hash) index — what
    * production persists next to the exact-hash index.
    */
  private[graft] def mediaHashIndexOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), (col("doc_id") % 3).as("mod3"),
      md5(normText(col("text"))).as("h"))

  /** The five lanes' delta-touching pair sets, unioned — every pair has a
    * delta doc on at least one side (star edges additionally carry
    * base-base rows inside delta-touched hash groups). Each lane runs its
    * existing delta-vs-stored-index core; per-crawl cost is the sum of
    * the lanes' touched-bucket-bounded costs, never O(corpus).
    */
  private[graft] def unifiedDeltaPairsOf(baseDocs: DataFrame, baseEmbs: DataFrame,
      deltaDocs: DataFrame, deltaEmbs: DataFrame): DataFrame = {
    val baseSets = persistIntermediate(hashedShingleSetsOf(baseDocs))
    unifiedDeltaPairsPrepared(
      UnifiedIndexes(exactHashIndexOf(baseDocs), mediaHashIndexOf(baseDocs),
        baseSets, bandTableOf(baseSets), baseEmbs, srpBandRows(baseEmbs),
        TextAnalysis.winnowFpIndexOf(baseDocs)),
      deltaDocs, deltaEmbs)
  }

  /** The five stored lane indexes the unified delta path probes — what
    * production persists at base-index time, and what the streaming
    * unified runner ([[graft.streaming]]'s `UnifiedDedupIndex`) keeps and
    * grows per micro-batch: exact content-hash rows, media canonical-hash
    * rows, MinHash shingle sets + band table, raw embeddings + SRP band
    * rows, winnow fingerprint index.
    */
  private[graft] final case class UnifiedIndexes(
      exact: DataFrame, media: DataFrame, sets: DataFrame, bands: DataFrame,
      embs: DataFrame, srpBands: DataFrame, winnowFps: DataFrame)

  /** Build the five lane indexes from raw (docs, embeddings) frames — the
    * ONE derivation used at base-index time, per streamed micro-batch,
    * and inside [[unifiedDeltaPairsOf]], so an index row can never be
    * produced by different arithmetic depending on who built it.
    */
  private[graft] def unifiedIndexesOf(docs: DataFrame, embs: DataFrame): UnifiedIndexes = {
    val sets = hashedShingleSetsOf(docs)
    UnifiedIndexes(exactHashIndexOf(docs), mediaHashIndexOf(docs),
      sets, bandTableOf(sets), embs, srpBandRows(embs),
      TextAnalysis.winnowFpIndexOf(docs))
  }

  /** [[unifiedDeltaPairsOf]] over ALREADY-built lane indexes — the seam
    * shared by the batch per-crawl path (which builds indexes from the
    * base frames) and the streaming runner (which accumulates them across
    * micro-batches), so the two can never pair by different lane
    * arithmetic.
    */
  private[graft] def unifiedDeltaPairsPrepared(ix: UnifiedIndexes,
      deltaDocs: DataFrame, deltaEmbs: DataFrame): DataFrame = {
    val ex = touchedStarEdges(ix.exact,
      persistIntermediate(exactHashIndexOf(deltaDocs)), Seq("content_hash"))
    val md = touchedStarEdges(ix.media,
      persistIntermediate(mediaHashIndexOf(deltaDocs)), Seq("mod3", "h"))
    val mh = dedupDeltaFrom(ix.sets, ix.bands, deltaDocs).select("doc_a", "doc_b")
    val srp = srpDeltaFrom(ix.embs, ix.srpBands, deltaEmbs)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val wn = TextAnalysis.winnowContainDeltaFrom(ix.winnowFps, deltaDocs)
      .select("doc_a", "doc_b")
    ex.unionByName(md).unionByName(mh).unionByName(srp).unionByName(wn).distinct()
  }

  /** The incremental core over an ALREADY-built membership + delta pair
    * set — the seam the spec drives with alternate carvings and the
    * parquet round-trip.
    */
  private[graft] def dedupKeepUnifiedDeltaFrom(stored: DataFrame,
      deltaPairs: DataFrame, deltaDocs: DataFrame): DataFrame = {
    val labels = persistIntermediate(stored.select(col("doc_id"), col("cluster_id")))
    // contract base endpoints onto their stored cluster id (the quotient
    // graph); endpoints outside any stored cluster stand for themselves
    val contracted = deltaPairs
      .join(labels.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")),
        Seq("doc_a"), "left")
      .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    // CC on the contracted graph: delta-sized; the router's checkpoint of
    // its input truncates the join/coalesce constraint chain
    val nodeLabels = clustersFromPairs(contracted)
      .select(col("doc_id").as("node"), col("cluster_id").as("final_id"))
      .localCheckpoint(true)
    // expansion 1: every member of a touched stored cluster, relabeled
    val viaStored = labels
      .join(nodeLabels.withColumnRenamed("node", "cluster_id"), Seq("cluster_id"))
      .select(col("doc_id"), col("final_id"))
    // expansion 2: nodes that are single docs (delta docs and base docs
    // outside any stored cluster)
    val viaSelf = nodeLabels
      .join(labels.select(col("cluster_id").as("node")).distinct(),
        Seq("node"), "left_anti")
      .select(col("node").as("doc_id"), col("final_id"))
    // expansion 3: delta docs no lane touched — singleton verdicts
    val reached = viaStored.unionByName(viaSelf)
    val singles = deltaDocs.select(col("doc_id"))
      .join(reached.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("final_id"))
    val member = reached.unionByName(singles)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("final_id"))
    member
      .join(deltaDocs.select(col("doc_id"), lit(true).as("is_delta")),
        Seq("doc_id"), "left")
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("origin", when(col("is_delta"), "delta").otherwise("base"))
      .withColumn("status",
        when(col("cluster_size") === 1, "unique")
          .when(col("doc_id") === col("final_id"), "canonical")
          .otherwise("dup"))
      .select(col("doc_id"), col("final_id").as("cluster_id"),
        col("cluster_size"), col("origin"), col("status"))
      .contractOrderBy("doc_id")
  }

  /** Oracle: recursive closure over (base-only unified edges ∪ delta-
    * touching full-corpus pairs), restricted to components holding a
    * delta doc, plus delta singletons — the independent formulation of
    * the incremental semantics (no stored membership, no contraction).
    */
  /** The incremental-semantics closure CTE chain (`…cc`) — recursive
    * closure over (base-only unified edges ∪ delta-touching full pairs) —
    * shared by [[dedupKeepUnifiedDeltaSql]] and the per-crawl curation
    * funnel's oracle, so the two can never disagree on the incremental
    * dedup verdict.
    */
  private[graft] def unifiedDeltaClosureCtes: String = {
    val m = DeltaIdMod
    closureCtes(
      s"""${unifiedPairsBodySql("base_docs", "base_embs")}
         |  UNION
         |  SELECT doc_a, doc_b FROM (
         |${unifiedPairsBodySql("documents", "embeddings")}
         |  ) f WHERE doc_a % $m = 0 OR doc_b % $m = 0""".stripMargin,
      prelude =
        s"""base_docs AS (SELECT * FROM documents WHERE doc_id % $m <> 0),
           |base_embs AS (SELECT * FROM embeddings WHERE vec_id % $m <> 0)""".stripMargin)
  }

  /** The incremental verdict CTE chain (closure + `touched`/`member`/
    * `sized`/`singles`/`unioned`) — shared by [[dedupKeepUnifiedDeltaSql]]
    * and the quality-canonical [[dedupDeltaKeepBestSql]] so both act
    * steps derive from the identical touched-component membership.
    */
  private[graft] def unifiedDeltaVerdictCtes: String = {
    val m = DeltaIdMod
    unifiedDeltaClosureCtes +
      s""", touched AS (
         |  SELECT DISTINCT cluster_id FROM cc WHERE id % $m = 0
         |), member AS (
         |  SELECT c.id, c.cluster_id FROM cc c JOIN touched t USING (cluster_id)
         |), sized AS (
         |  SELECT id, cluster_id,
         |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |  FROM member
         |), singles AS (
         |  SELECT d.doc_id AS id, d.doc_id AS cluster_id, CAST(1 AS BIGINT) AS cluster_size
         |  FROM documents d
         |  WHERE d.doc_id % $m = 0
         |    AND NOT EXISTS (SELECT 1 FROM cc WHERE cc.id = d.doc_id)
         |), unioned AS (
         |  SELECT * FROM sized UNION ALL SELECT * FROM singles
         |)""".stripMargin
  }

  def dedupKeepUnifiedDeltaSql: String = {
    val m = DeltaIdMod
    unifiedDeltaVerdictCtes +
      s"""
         |SELECT id AS doc_id, cluster_id, cluster_size,
         |  CASE WHEN id % $m = 0 THEN 'delta' ELSE 'base' END AS origin,
         |  CASE WHEN cluster_size = 1 THEN 'unique'
         |       WHEN id = cluster_id THEN 'canonical'
         |       ELSE 'dup' END AS status
         |FROM unioned
         |ORDER BY doc_id""".stripMargin
  }

  // ---- dedup_membership_apply -----------------------------------------------

  /** Fold a crawl's incremental verdicts into the stored membership — the
    * WRITE-BACK that advances the persisted cluster-membership artifact
    * (without it the store is stale after one crawl and the NEXT crawl's
    * contraction quotients against wrong labels). Pure table algebra, no
    * lane re-run:
    *
    *   - the verdict table carries EVERY member of every touched
    *     component (the expansion step emits them precisely so production
    *     can write them back), so an anti-join on doc_id removes exactly
    *     the touched clusters' stored rows,
    *   - verdict rows with `cluster_size ≥ 2` are the replacement rows
    *     (relabeled merged components, delta insertions); `unique`
    *     singletons are EXCLUDED — the membership artifact holds only
    *     clustered docs, exactly like a fresh [[clustersFromPairs]] run.
    *
    * Cost at 100 TB: one key anti-join + one union over the membership
    * table (near-dup rows only, a small corpus fraction) — the act step
    * was already reading those rows to emit the verdicts.
    */
  private[graft] def membershipApply(stored: DataFrame,
      verdicts: DataFrame): DataFrame = {
    val untouched = stored
      .join(verdicts.select("doc_id"), Seq("doc_id"), "left_anti")
    val updated = verdicts.filter(col("cluster_size") >= 2)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
    untouched.unionByName(updated)
  }

  /** `dedup_membership_apply` (r13): the advanced membership itself as a
    * query — stored base membership + the standard crawl's verdicts,
    * folded. Oracle: CC over (base-only unified edges ∪ delta-touching
    * full pairs) — untouched base components pass through the closure
    * unchanged (no delta-touching edge is incident to them), touched
    * components get the incremental labels, and singleton delta docs are
    * absent from both sides — i.e. the applied membership IS that
    * closure's cluster table (the [[dedupClustersSql]] footer over the
    * incremental edge set). The two-crawl associativity property
    * (apply ∘ apply ≡ full rebuild) is spec-proven in
    * DedupMembershipApplySpec.
    */
  def dedupMembershipApply(spark: SparkSession, dir: String): DataFrame = {
    val (stored, verdicts) = storedDeltaVerdicts(spark, dir)
    membershipApply(stored, verdicts).contractOrderBy("doc_id")
  }

  def dedupMembershipApplySql: String =
    unifiedDeltaClosureCtes +
      s"""
         |SELECT id AS doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
         |  id = cluster_id AS is_canonical
         |FROM cc
         |ORDER BY doc_id""".stripMargin

  // ---- dedup_membership_retract ----------------------------------------------

  /** The standard takedown carve: base docs (doc_id ≢ 0 mod
    * [[DeltaIdMod]]) whose id ≡ 0 mod this play the erasure set.
    */
  val RetractIdMod = 7

  /** `dedup_membership_retract` (r14): takedown / right-to-be-forgotten
    * for the stored dedup membership — the INVERSE of
    * [[dedupMembershipApply]], closing the store lifecycle (add AND
    * remove; without it one DMCA/GDPR erasure forces a full five-lane
    * rebuild). Given a retract set S:
    *
    *   1. clusters with no member in S pass through untouched (their
    *      edges cannot involve S — CC components are closed under the
    *      pair relation),
    *   2. touched clusters' SURVIVORS re-pair from the stored lane
    *      indexes alone (no text rescan): exact/media hash groups
    *      re-star among survivors (removing a star hub must re-elect,
    *      not disconnect), MinHash/SRP/winnow candidates regenerate
    *      among survivor index rows under INDEX-TIME occupancy (hot-key
    *      caps and df eligibility counted over the full stored index,
    *      S included) and verify against the stored sets/embeddings,
    *   3. a delta-sized CC over those survivor pairs relabels the
    *      touched components — removing a cut vertex SPLITS them, and
    *      min-id labels re-elect exactly as a rebuild would.
    *
    * Semantics = VERTEX DELETION on the stored dedup graph + re-closure:
    * a takedown removes the doc's rows and edges; it deliberately does
    * NOT re-tune hot-key caps or shingle-df context (that is
    * rebuild/compaction's job — and erasing one doc must never conjure
    * new pairs among unrelated docs). Under index-time occupancy the
    * survivor pair relation is EXACTLY the stored pair relation
    * restricted to survivors, so the oracle is the base-time closure
    * with S's vertices deleted (hash lanes re-starred over the
    * remaining corpus), independent of any cap state.
    *
    * Scale: touched clusters are S-sized neighborhoods; candidate
    * regeneration reads only survivor-carried index keys (occupancy
    * counted within those keys over the stored index — one
    * touched-key-restricted aggregation per lane, the
    * [[unifiedDeltaPairsPrepared]] discipline applied in reverse); the
    * CC runs over survivor edges only. Per-takedown cost is
    * O(S + touched clusters), never O(corpus).
    */
  def dedupMembershipRetract(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val embs = Tables.embeddings(spark, dir)
    val baseDocs = docs.filter(col("doc_id") % DeltaIdMod =!= 0)
    val baseEmbs = embs.filter(col("vec_id") % DeltaIdMod =!= 0)
    val (stored, ix) = storedUnifiedArtifacts(spark, dir, baseDocs, baseEmbs)
    val retractIds = baseDocs.filter(col("doc_id") % RetractIdMod === 0)
      .select("doc_id")
    membershipRetractFrom(stored, ix, retractIds).contractOrderBy("doc_id")
  }

  /** The retract core over explicit membership + lane indexes + id set —
    * the seam the cut-vertex spec and [[UnifiedDedupStore.retract]]
    * drive.
    */
  private[graft] def membershipRetractFrom(stored0: DataFrame,
      ix: UnifiedIndexes, retractIds: DataFrame): DataFrame = {
    val stored = persistIntermediate(stored0)
    val s = persistIntermediate(retractIds.select("doc_id"))
    val touched = stored.join(s, Seq("doc_id")).select("cluster_id").distinct()
    val survivors = stored.join(touched, Seq("cluster_id"))
      .join(s, Seq("doc_id"), "left_anti").select("doc_id")
    val untouched = stored.join(touched, Seq("cluster_id"), "left_anti")
    // Re-closure per old cluster: survivor pairs cannot cross stored
    // components (the survivor pair relation is the stored pair relation
    // restricted to survivors, and CC components are closed under it), so
    // the old cluster id is a closed CC group.
    val pairs = unifiedPairsAmong(ix, survivors)
    val recomputed = clustersFromPairs(pairs.join(
      stored.select(col("doc_id").as("doc_a"), col("cluster_id").as("cc_grp")),
      Seq("doc_a")))
    untouched.select("doc_id", "cluster_id", "cluster_size", "is_canonical")
      .unionByName(recomputed)
  }

  /** The unified pair relation restricted to `ids`, derived from the
    * STORED lane indexes alone (no raw text/embedding rescan beyond the
    * embeddings the SRP verify reads): exact/media re-star per hash
    * group among the ids; MinHash/SRP candidates from the ids' band rows
    * under index-time occupancy (counted over the FULL index within
    * id-carried keys — the eligibility the store was built with),
    * verified against the stored sets/embeddings; winnow containment
    * over the ids' fingerprints with index-time df eligibility. Under
    * that occupancy rule this is EXACTLY the stored pair relation
    * restricted to ids×ids — the property the retract oracle's
    * vertex-deletion closure relies on.
    */
  private[graft] def unifiedPairsAmong(ix: UnifiedIndexes,
      ids0: DataFrame): DataFrame = {
    val ids = persistIntermediate(ids0.select("doc_id"))
    def star(idx: DataFrame, keys: Seq[String]): DataFrame = {
      val rows = idx.join(ids, Seq("doc_id"))
      val canons = rows.groupBy(keys.map(col): _*)
        .agg(min(col("doc_id")).as("canon"), count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(keys.map(col) :+ col("canon"): _*)
      rows.join(canons, keys)
        .filter(col("doc_id") =!= col("canon"))
        .select(col("canon").as("doc_a"), col("doc_id").as("doc_b"))
    }
    val ex = star(ix.exact, Seq("content_hash"))
    val md = star(ix.media, Seq("mod3", "h"))

    BandingStamp.check(ix.bands, "stored MinHash band index (retract)")
    val idBands = ix.bands.join(ids, Seq("doc_id"))
    val mhKeys = idBands.select("band_id", "band_hash").distinct()
    val mhCool = ix.bands.join(mhKeys, Seq("band_id", "band_hash"))
      .groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= HotBandDocs)
      .select("band_id", "band_hash")
    val mhRows = idBands.join(mhCool, Seq("band_id", "band_hash"))
    val mhCands = mhRows.as("a").join(mhRows.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val mh = verifyJaccard(mhCands, ix.sets, MinHashTau).select("doc_a", "doc_b")

    SrpStamp.check(ix.srpBands, "stored SRP band index (retract)")
    val vids = ids.select(col("doc_id").as("vec_id"))
    val idSrp = ix.srpBands.join(vids, Seq("vec_id"))
    val srpKeys = Seq("band_id", "band_val")
    val srpCool = srpCoolKeys(ix.srpBands.join(
      idSrp.select("band_id", "band_val").distinct(), srpKeys))
    val srp = srpBucketPairs(idSrp.join(srpCool, srpKeys)
        .join(cosineEmbOf(ix.embs), Seq("vec_id")))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))

    val wn = TextAnalysis.winnowContainAmong(ix.winnowFps, ids)
      .select("doc_a", "doc_b")

    // terminal distinct deliberately KEPT (r18 A/B): CC tolerates
    // duplicate edges, but dropping the dedup here made the retract row
    // 3.5 s SLOWER at sf0.1 — the five lanes overlap heavily on this
    // oracle carve, and the duplicated edge set costs more across the
    // CC's per-round joins (and its persist) than the one distinct
    // shuffle saves
    ex.unionByName(md).unionByName(mh).unionByName(srp).unionByName(wn)
      .distinct()
  }

  /** Oracle: the base-time closure with S's vertices DELETED — exact and
    * media stars re-elected over the remaining docs (a removed hub must
    * not disconnect its group), the banded lanes' base-time pairs
    * filtered to S-free endpoints — then the membership footer. The
    * independent formulation of "remove the docs, keep everything the
    * store already knew, split what no longer connects".
    */
  def dedupMembershipRetractSql: String = {
    val m = DeltaIdMod
    val r = RetractIdMod
    closureCtes(
      s"""  SELECT canon AS doc_a, doc_id AS doc_b FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5($normTextSql)) AS canon
         |    FROM docs_r
         |  ) ex WHERE doc_id <> canon
         |  UNION
         |  SELECT canon AS doc_a, doc_id AS doc_b FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 3, md5($normTextSql)) AS canon
         |    FROM docs_r
         |  ) mx WHERE doc_id <> canon
         |  UNION
         |  SELECT doc_a, doc_b FROM (
         |${dedupMinhashLshSqlFor("base_docs")}
         |  ) mh WHERE doc_a % $r <> 0 AND doc_b % $r <> 0
         |  UNION
         |  SELECT id_a AS doc_a, id_b AS doc_b FROM (
         |${dedupEmbeddingSrpSqlFor("base_embs")}
         |  ) em WHERE id_a % $r <> 0 AND id_b % $r <> 0
         |  UNION
         |  SELECT doc_a, doc_b FROM (
         |${TextAnalysis.dedupWinnowContainSqlFor("base_docs")}
         |  ) wn WHERE doc_a % $r <> 0 AND doc_b % $r <> 0""".stripMargin,
      prelude =
        s"""base_docs AS (SELECT * FROM documents WHERE doc_id % $m <> 0),
           |base_embs AS (SELECT * FROM embeddings WHERE vec_id % $m <> 0),
           |docs_r AS (SELECT * FROM base_docs WHERE doc_id % $r <> 0)""".stripMargin) +
      s"""
         |SELECT id AS doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
         |  id = cluster_id AS is_canonical
         |FROM cc
         |ORDER BY doc_id""".stripMargin
  }

  // ---- dedup_delta_keep_best ------------------------------------------------

  /** `dedup_delta_keep_best` (r13): the incremental act step with
    * QUALITY-AWARE canonical selection — [[dedupKeepUnifiedDelta]]'s
    * verdicts re-ranked so each touched component keeps its
    * [[dedupKeepBest]]-style argmax (exact integer `qint`, ties to the
    * lower doc_id) across base ∪ delta, not its min id. This is the
    * production per-crawl shape: a new crawl's doc can BEAT the stored
    * canonical and demote it (status `dup`), which min-id keep can never
    * express — min-id always prefers the earlier-crawled copy.
    *
    * Scale: the argmax window runs over the VERDICT table only (touched
    * members + delta singletons — delta-sized, never the corpus); quality
    * scores join in on doc_id at the same grain.
    */
  def dedupDeltaKeepBest(spark: SparkSession, dir: String): DataFrame =
    dedupDeltaKeepBestFrom(storedDeltaVerdicts(spark, dir)._2,
      TextAnalysis.qualityIntScoreOf(Tables.documents(spark, dir)))

  /** The quality re-rank over explicit verdict + score relations — the
    * seam the demotion spec drives with a planted cluster whose delta
    * member outranks the stored canonical.
    */
  def dedupDeltaKeepBestFrom(verdicts: DataFrame,
      scores: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("qint").desc, col("doc_id"))
    verdicts.select("doc_id", "cluster_id", "cluster_size", "origin")
      .join(scores, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("origin"),
        when(col("cluster_size") === 1, "unique")
          .when(col("rn") === 1, "best")
          .otherwise("dup").as("status"),
        (col("qint").cast("double") / 100000.0).as("quality"))
      .contractOrderBy("doc_id")
  }

  /** The quality-rank CTE over the incremental verdict table (`unioned` →
    * `kbranked`) — shared by `dedup_delta_keep_best` and the
    * quality-canonical curation funnel so the two act steps derive the
    * keep rule from identical ranking arithmetic.
    */
  private[graft] def kbrankedCtesSql: String =
    s""", ${TextAnalysis.qualityIntCtesSql},
       |kbranked AS (
       |  SELECT u.id, u.cluster_id, u.cluster_size, q.qint,
       |    row_number() OVER (PARTITION BY u.cluster_id
       |      ORDER BY q.qint DESC, u.id) AS rn
       |  FROM unioned u JOIN qscore q ON u.id = q.doc_id
       |)""".stripMargin

  def dedupDeltaKeepBestSql: String = {
    val m = DeltaIdMod
    unifiedDeltaVerdictCtes + kbrankedCtesSql +
      s"""
         |SELECT id AS doc_id, cluster_id, cluster_size,
         |  CASE WHEN id % $m = 0 THEN 'delta' ELSE 'base' END AS origin,
         |  CASE WHEN cluster_size = 1 THEN 'unique'
         |       WHEN rn = 1 THEN 'best'
         |       ELSE 'dup' END AS status,
         |  CAST(qint AS DOUBLE) / 100000.0 AS quality
         |FROM kbranked
         |ORDER BY doc_id""".stripMargin
  }

  /** `dedup_cluster_stats`: the cluster-size HISTOGRAM over the unified
    * five-lane dedup graph — for each component size: how many clusters and
    * how many documents sit at that size, with the corpus's untouched
    * singletons as the `cluster_size = 1` row so the histogram's `n_docs`
    * column sums to the whole corpus. This is the dashboard a 100 TB dedup
    * run is judged by before anyone commits to a keep-list: a healthy crawl
    * shows a long-tail histogram; a mega-component (one cluster holding a
    * large corpus fraction) means a lane's threshold is too loose (classic
    * failure: SRP bands too short → the embedding lane chains the corpus
    * together) and the keep-list would silently delete most of the data.
    *
    * Scale: CC cost tracks the edge set ([[clustersFromPairs]]); the
    * histogram is two tiny hash aggregations over the label table (bounded
    * by clustered docs, a small corpus fraction), and the singleton row
    * joins two single-row counts (broadcast by construction). Output is
    * O(distinct sizes).
    *
    * Reference anchor: utils/validation.py:92 (the reference reports
    * per-form duplicate-group counts before recovery; this is that report
    * at corpus scale over the unified graph).
    */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame =
    dedupClusterStatsFromPairs(Tables.documents(spark, dir),
      storedUnifiedPairs(spark, dir))

  /** The histogram core over explicit corpus + embedding relations — the
    * seam specs plant skewed cluster shapes through.
    */
  def dedupClusterStatsFrom(docs: DataFrame, embs: DataFrame): DataFrame =
    dedupClusterStatsFromPairs(docs, unifiedPairsOf(docs, embs))

  private[graft] def dedupClusterStatsFromPairs(docs: DataFrame,
      pairs: DataFrame): DataFrame = {
    val clusters = clustersFromPairs(pairs)
    val sized = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sized.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("cluster_size")).as("n_docs"))
    // singleton row: total docs minus docs touched by any lane. Two 1-row
    // aggregates crossed — broadcast nested loop over exactly one pair.
    val singletons = docs.agg(count(lit(1)).as("t"))
      .crossJoin(clusters.agg(count(lit(1)).as("c")))
      .select(lit(1L).as("cluster_size"),
        (col("t") - col("c")).as("n_clusters"),
        (col("t") - col("c")).as("n_docs"))
    hist.unionByName(singletons).contractOrderBy("cluster_size")
  }

  def dedupClusterStatsSql: String =
    s"""$unifiedClosureCtes, csize AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM cc GROUP BY cluster_id
       |), hist AS (
       |  SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |    CAST(sum(cluster_size) AS BIGINT) AS n_docs
       |  FROM csize GROUP BY cluster_size
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT) AS cluster_size, t.n - c.n AS n_clusters, t.n - c.n AS n_docs
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM documents) t,
       |       (SELECT CAST(count(*) AS BIGINT) AS n FROM cc) c
       |)
       |SELECT cluster_size, n_clusters, n_docs FROM hist
       |ORDER BY cluster_size""".stripMargin
}
