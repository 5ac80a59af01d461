package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** The benchmark's JVM side: one workload, one seed, one process.
  *
  * `Main --workload W --seed S --seconds T --trace 0|1 --cores N --work DIR
  * --t0-ms MS` sets up a session, generates W's inputs from S under DIR,
  * runs W as a closed loop with one client for at least T seconds, checks
  * the outputs, and prints a report followed by one JSON line.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, cores: Int = 4, work: String = ".bench_build/work",
      t0Ms: Long = 0L)

  final case class Metric(name: String, value: Double, unit: String, n: Int)

  /** A workload's outcome: end-to-end metrics, per-layer metrics (traced
    * runs only) and report-only figures.
    */
  final case class Outcome(e2e: Vector[Metric], layer: Vector[Metric], extra: Vector[Metric])

  /** Every span, in the order the per-layer metrics list them: form_etl's,
    * curate's, then the store lifecycle's (traced in curate's run).
    */
  val AllSpans: Vector[String] = Vector(
    "ingest.native", "ingest.ocr", "layout.clause_graph", "extract.scoped",
    "validate.form", "finalize.pipeline_output", "eval.extraction",
    "dedup.exact", "dedup.minhash", "dedup.srp", "dedup.winnow", "dedup.clusters",
    "curation.decontam_fuzzy", "curation.pipeline",
    "dedup.write", "dedup.crawl", "dedup.retract", "ann.write", "ann.append",
    "ann.retract", "postings.write", "postings.append", "postings.retract",
    "hybrid.query")

  /** No run may outlive this, whatever `--seconds` says. */
  val HardCapS = 150.0

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList, Opts())
    val spark = GraftSession.builder(s"local[${o.cores}]", o.cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val setupWallS = (System.currentTimeMillis() - o.t0Ms) / 1e3
    val setupCpuS = cpuS()
    val steal0 = stealS()
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    val plain = new Runner(spark, None)
    val traced = tracer.map(t => new Runner(spark, Some(t)))
    val runners = plain +: traced.toVector
    val outcome = try {
      o.workload match {
        case "form_etl" => FormEtl.run(o, plain, traced, tracer)
        case "curate" => Curate.run(o, plain, traced, tracer)
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        plain.failed += 1; plain.attempted += 1
        plain.errors += s"workload aborted: $e"
        Outcome(Vector.empty, Vector.empty, Vector.empty)
    }
    val attempted = runners.map(_.attempted).sum
    val failed = runners.map(_.failed).sum
    val rss = peakRssMb()
    val e2e = Vector(Metric("setup_s", setupWallS, "s", 1),
      Metric("setup_cpu_s", setupCpuS, "s", 1)) ++ outcome.e2e :+
      Metric("peak_rss_mb", rss, "MB", 1)
    val extra = outcome.extra ++ Vector(
      Metric("error_rate", failed.toDouble / math.max(1, attempted), "ratio", attempted),
      Metric("host_steal_s", stealS() - steal0, "s", 1))
    runners.flatMap(_.errors).foreach(e => println(s"error: $e"))
    (e2e ++ extra ++ outcome.layer).foreach { m =>
      println(f"metric ${m.name}%-40s ${fmt(m.value)}%14s ${m.unit}%-8s n=${m.n}")
    }
    spark.stop()
    def dict(ms: Vector[Metric]) = Json.obj(ms.map(m =>
      m.name -> Json.obj(Vector("value" -> Json.num(m.value), "unit" -> Json.str(m.unit),
        "n" -> Json.num(m.n)))))
    println(Json.obj(Vector(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "e2e" -> dict(e2e),
      "layer" -> dict(outcome.layer))))
  }

  private def fmt(v: Double): String = if (v == v.toLong && math.abs(v) < 1e15) v.toLong.toString
    else f"$v%.6f"

  @annotation.tailrec
  private def parse(a: List[String], o: Opts): Opts = a match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--t0-ms" :: v :: t => parse(t, o.copy(t0Ms = v.toLong))
    case Nil => o
    case x :: _ => sys.error(s"unknown argument $x")
  }

  /** CPU time the host took from this machine's CPUs so far (the `steal`
    * column of /proc/stat); a run that gained much of it ran on a busy host.
    */
  def stealS(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.headOption
      .map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toDouble / 100).getOrElse(0.0)

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // ---- shared plumbing -------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU time of this JVM so far, all threads. Time the host steals from
    * the machine's CPUs is not in it, unlike wall time.
    */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** One pass: wall seconds and JVM CPU seconds. */
  final case class PassTime(wallS: Double, cpuS: Double)

  /** Write a corpus as the `documents` / `embeddings` parquet tables
    * graft's `(spark, dir)` operators read.
    */
  def writeCorpus(spark: SparkSession, c: Gen.Corpus, dir: String): Unit = {
    import spark.implicits._
    c.docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    c.embs.map(e => (e.id, e.v, e.label))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def docsOf(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  def embsOf(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Regular, non-hidden files under `dir` and their total size. */
  def filesUnder(dir: String): (Int, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".")).toVector
        (fs.size, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  /** Generator determinism: the same seed regenerates identical inputs, the
    * next seed different ones. `gen(seed, scale)` runs the workload's
    * generator at `scale` of its size; the check runs at a tenth, the
    * same code on fewer documents.
    */
  def checkGenerator(r: Runner, seed: Long)(gen: (Long, Double) => Any): Unit = {
    val a = Gen.digest(Iterator(gen(seed, 0.1)))
    r.check("generator: same seed, same inputs")(Gen.digest(Iterator(gen(seed, 0.1))) == a)
    r.check("generator: next seed, different inputs")(
      Gen.digest(Iterator(gen(seed + 1, 0.1))) != a)
  }

  /** Closed-loop passes: a cold one, then warm ones for `seconds` (at
    * least `minWarm`, fewer only if the hard cap intervenes, but never
    * none). A traced run makes a single warm pass, the baseline of
    * `tracing_overhead`, and spends its time on the traced calls.
    * Returns pass times and per-pass digests.
    */
  def passes(o: Opts, minWarm: Int)(pass: => Vector[Option[Digest]])
      : (Vector[PassTime], Vector[Vector[Option[Digest]]]) = {
    def one() = {
      val c0 = cpuS()
      val (d, s) = timed(pass)
      (d, PassTime(s, cpuS() - c0))
    }
    val (cold, coldT) = one()
    val times = Vector.newBuilder[PassTime] += coldT
    val outs = Vector.newBuilder[Vector[Option[Digest]]] += cold
    val (warmMin, window) = if (o.trace) (1, 0.0) else (minWarm, o.seconds)
    val t0 = System.nanoTime()
    var n = 0
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def capped = (System.currentTimeMillis() - jvmStartMs) / 1e3 > HardCapS * 0.5
    while (n == 0 || ((n < warmMin || (System.nanoTime() - t0) / 1e9 < window) && !capped)) {
      val (d, t) = one()
      times += t; outs += d; n += 1
    }
    println(s"pass times (wall s / CPU s): ${times.result()
      .map(t => f"${t.wallS}%.2f/${t.cpuS}%.1f").mkString(" ")}")
    (times.result(), outs.result())
  }

  /** The pass-derived end-to-end metrics: the cold pass and warm
    * throughput, each in wall time and in CPU time.
    */
  def passMetrics(docs: Int, times: Vector[PassTime]): Vector[Metric] = {
    val warm = times.drop(1)
    Vector(
      Metric("cold_pass_s", times.head.wallS, "s", 1),
      Metric("docs_per_s", docs / median(warm.map(_.wallS)), "docs/s", warm.size),
      Metric("cold_pass_cpu_s", times.head.cpuS, "s", 1),
      Metric("docs_per_cpu_s", docs / median(warm.map(_.cpuS)), "docs/s", warm.size))
  }

  /** Every pass's digests equal the first pass's. */
  def checkRepeatable(r: Runner, what: String, outs: Vector[Vector[Option[Digest]]]): Unit =
    outs.zipWithIndex.drop(1).foreach { case (p, i) =>
      r.check(s"$what: pass $i digests equal pass 0's")(
        p.size == outs.head.size && p.zip(outs.head).forall {
          case (Some(a), Some(b)) => a.same(b)
          case _ => false
        })
    }

  /** Per-layer metrics for one traced run: every span of every workload
    * (a span the workload never enters reads zero), plus the run-wide
    * ratios.
    */
  def layerMetrics(o: Opts, spans: Vector[SpanStats], overhead: Double,
      store: Vector[Metric]): Vector[Metric] = {
    val by = spans.map(s => s.name -> s).toMap
    val per = AllSpans.flatMap { name =>
      val s = by.getOrElse(name, SpanStats(name, 0, 0, 0, 0, 0, 0))
      Vector(Metric(s"$name.build_s", s.buildS, "s", 1),
        Metric(s"$name.action_s", s.actionS, "s", 1),
        Metric(s"$name.build_jobs", s.buildJobs, "count", 1),
        Metric(s"$name.action_jobs", s.actionJobs, "count", 1),
        Metric(s"$name.shuffle_mb", s.shuffleMb, "MB", 1))
    }
    val wall = spans.map(_.wallS).sum
    val jobs = spans.map(_.jobs).sum
    val storeMetrics = Vector("store.crawl.files", "store.crawl.bytes_per_input_byte",
      "store.retract.files", "store.retract.bytes_per_input_byte").map { n =>
      store.find(_.name == n).getOrElse(Metric(n, 0, if (n.endsWith("files")) "count" else "ratio", 1))
    }
    per ++ Vector(
      Metric("ms_per_job", if (jobs == 0) 0 else wall * 1e3 / jobs, "ms", jobs),
      Metric("cpu_util", spans.map(_.executorRunS).sum / (wall * o.cores), "ratio", 1),
      Metric("tracing_overhead", overhead, "ratio", 1)) ++ storeMetrics
  }
}

/** Just enough JSON for the result line. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == d.toLong && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
