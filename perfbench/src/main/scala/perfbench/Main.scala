package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.Drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{CrawlEngine, SparkEntry}
import graft.plans.BucketedTable
import graft.sources.PagesGen

/** The benchmark JVM. Runs one workload at `local[4]` and prints one
  * `PERFBENCH {json}` line per measured operation; `run.py` checks the
  * records against the pinned values and reduces them to metrics.
  *
  * Usage: Main <workload> <seconds> <trace 0|1> <workDir> <dataDir>
  */
object Main {

  final case class CrawlSpec(amplify: Int, waveDurationMs: Long, maxWaves: Int)

  /** crawl-bulk: budget unbounded (as in graft.Bench), so every wave takes
    * its whole frontier. crawl-polite: 200 urls/host/wave and 100 for the
    * hot host h0, stopped after four mixed waves and the first wave of h0's
    * 100-url drain.
    */
  val crawls: Map[String, CrawlSpec] = Map(
    "crawl-bulk" -> CrawlSpec(2, 4000000000L, 64),
    "crawl-polite" -> CrawlSpec(1, 200000L, 5))
  /** Scale dirs under the data dir: the crawls render pages from sf0.1's
    * documents, the queries read every sf0.01 table.
    */
  val CrawlSf = "sf0.1"
  val QueriesSf = "sf0.01"
  val PagesBuckets = 64
  /** Seen-set and frontier shards ≈ cores, the engine's sizing rule at
    * bench scale (CrawlEngine.Config.cuckooShards).
    */
  val Shards = 4
  val Resumes = 7

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- records ------------------------------------------------------------

  private def jsonValue(v: Any): String = v match {
    case s: String => graft.util.Json.str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case m: Map[_, _] => m.toSeq.map { case (k, x) =>
      graft.util.Json.str(k.toString) + ":" + jsonValue(x) }.mkString("{", ",", "}")
    case null => "null"
    case x => x.toString
  }

  def emit(kind: String, fields: (String, Any)*): Unit = {
    println("PERFBENCH " + jsonValue(Map(("kind" -> kind) +: fields: _*)))
    Console.out.flush()
  }

  def now(): Long = System.nanoTime()
  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))

  /** A fixed single-thread integer loop: host speed beside every run, so a
    * host swing shows in the artifact instead of reading as a regression.
    */
  def calibMs(): Double = {
    val t0 = now()
    var x = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (now() - t0) / 1e6
    if (x == 42L) println() // keeps the loop live
    ms
  }

  // ---- crawl workloads ----------------------------------------------------

  def crawlConfig(spec: CrawlSpec): CrawlEngine.Config = CrawlEngine.Config(
    waveDurationMs = spec.waveDurationMs,
    amplify = spec.amplify,
    maxWaves = spec.maxWaves,
    cuckooShards = Shards,
    frontierShards = Shards,
    bloomExpected = math.max(1L << 22, spec.amplify.toLong * 8192L),
    pagesTable = Some("graft_pages"))

  /** Stage the pages corpus into a bucketed table in a fresh session. */
  def stagePages(work: String, sfDir: String, spec: CrawlSpec, rep: Int)
      : SparkSession = {
    val spark = session(work)
    val dir = s"$work/stage$rep"
    PagesGen.pages(spark, sfDir, spec.amplify).toDF()
      .write.mode("overwrite").parquet(s"$dir/pages")
    BucketedTable.write(spark.read.parquet(s"$dir/pages"), s"$dir/bucketed",
      "graft_pages_stage", "url", PagesBuckets)
    BucketedTable.register(spark, s"$dir/bucketed", "graft_pages",
      BucketedTable.PagesDdl, "url", PagesBuckets)
    spark
  }

  /** Wall seconds of each wave: the gaps between consecutive frontier
    * manifest commits (version v+1 publishes the frontier wave v produced).
    */
  def waveSeconds(store: String): Seq[Double] = {
    val snaps = Paths.get(store, "frontier", "_snapshots")
    val times = Files.list(snaps).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".manifest")).toVector
      .sortBy(_.getFileName.toString)
      .map(p => Files.getLastModifiedTime(p).toInstant)
      .map(i => i.getEpochSecond * 1e9 + i.getNano)
    times.sliding(2).collect { case Seq(a, b) => (b - a) / 1e9 }.toVector
  }

  /** One workload: how to set it up and run one measured operation. */
  trait Workload {
    /** Start a fresh session and stage the inputs; the old session stops. */
    def setUp(rep: Int): Unit
    /** Run, check and emit one operation tagged `pass`; returns its wall
      * interval (epoch ms).
      */
    def op(pass: String): (Long, Long)
    /** Per-layer metrics of the last operation, traced by `l`. */
    def layers(l: LayerListener, interval: (Long, Long)): Unit
    def spark: SparkSession
  }

  final class CrawlWorkload(spec: CrawlSpec, work: String, data: String)
      extends Workload {
    private val sfDir = s"$data/$CrawlSf"
    private val cfg = crawlConfig(spec)
    var spark: SparkSession = null
    private var last: Option[(String, CrawlEngine.Result)] = None
    private var ops = 0

    def setUp(rep: Int): Unit = {
      if (spark != null) { spark.stop(); deleteTree(Paths.get(work, s"stage${rep - 1}")) }
      spark = stagePages(work, sfDir, spec, rep)
    }

    /** One crawl on a fresh store, then the restart check: a fresh
      * session's run over the finished store must return the same Result
      * and digests.
      */
    def op(pass: String): (Long, Long) = {
      last.foreach(l => deleteTree(Paths.get(l._1)))
      val store = s"$work/store$ops"
      ops += 1
      val startMs = System.currentTimeMillis()
      val t0 = now()
      val r = CrawlEngine.run(spark, sfDir, store, cfg)
      val wall = secsSince(t0)
      val endMs = System.currentTimeMillis()
      last = Some((store, r))
      val trace = CrawlEngine.traceDigest(spark, store)
      // a restart takes well under a second: time several
      val resumes = (1 to Resumes).map { _ =>
        val fresh = spark.newSession()
        val t1 = now()
        val again = CrawlEngine.run(fresh, sfDir, store, cfg)
        (secsSince(t1), again == r && CrawlEngine.traceDigest(fresh, store) == trace)
      }
      emit("crawl", "pass" -> pass, "wall_s" -> wall,
        "waves" -> r.waves, "fetched" -> r.fetched, "deduped" -> r.deduped,
        "errors" -> r.errors, "seen_count" -> r.seenCount,
        "seen_digest" -> r.seenDigest.toString, "trace_digest" -> trace.toString,
        "wave_s" -> waveSeconds(store), "resume_s" -> resumes.map(_._1),
        "resume_same" -> resumes.forall(_._2))
      (startMs, endMs)
    }

    def layers(l: LayerListener, interval: (Long, Long)): Unit = {
      Layers.jobLayers(l, interval)
      last.foreach { case (store, r) => Layers.storeLayers(spark, store, r) }
      Layers.directLayers(spark, work, sfDir)
    }
  }

  final class QueryWorkload(work: String, data: String) extends Workload {
    private val sfDir = s"$data/$QueriesSf"
    var spark: SparkSession = null

    def setUp(rep: Int): Unit = {
      if (spark != null) spark.stop()
      spark = session(work)
      spark.read.parquet(s"$sfDir/documents.parquet").count()
    }

    private val queries = SparkEntry.queries.toSeq.sortBy(_._1)

    /** One pass over every query. The measured pass is the first after the
      * JVM starts, as a batch job runs it: it hashes every output value.
      * Later passes count rows, as graft.Bench times a query. The restart
      * cost is a fresh session's answer to the first query.
      */
    def op(pass: String): (Long, Long) = {
      val startMs = System.currentTimeMillis()
      queries.foreach { case (name, fn) =>
        spark.sparkContext.setLocalProperty(LayerListener.QueryProperty, name)
        val t0 = now()
        val res = try Right(
            if (pass == "measured") valueHash(fn(spark, sfDir))
            else (fn(spark, sfDir).count(), None))
          catch { case e: Exception => Left(e.toString.take(200)) }
        val s = secsSince(t0)
        res match {
          case Right((rows, hash)) =>
            emit("query", Seq("pass" -> pass, "name" -> name, "s" -> s,
              "rows" -> rows) ++ hash.map("hash" -> _): _*)
          case Left(err) =>
            emit("query", "pass" -> pass, "name" -> name, "s" -> s, "error" -> err)
        }
      }
      spark.sparkContext.setLocalProperty(LayerListener.QueryProperty, null)
      val endMs = System.currentTimeMillis()
      if (pass == "measured") {
        val fn = queries.head._2
        emit("restart", "s" -> (1 to Resumes).map { _ =>
          val t0 = now()
          fn(spark.newSession(), sfDir).count()
          secsSince(t0)
        })
      }
      (startMs, endMs)
    }

    def layers(l: LayerListener, interval: (Long, Long)): Unit = {
      Layers.jobLayers(l, interval)
      Layers.directLayers(spark, work, s"$data/$CrawlSf")
    }
  }

  /** Row count and an order-independent hash of every output value (maps
    * cannot be hashed directly; they hash through their JSON text).
    */
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def valueHash(df: DataFrame): (Long, Option[Long]) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(struct(c)) else c
    }
    val h = pmod(xxhash64(cols: _*), lit(2147483647L))
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), Some(if (r.isNullAt(1)) 0L else r.getLong(1)))
  }

  /** Set up three times, then measure operations for `seconds`. A traced
    * run adds one operation under the layer listener and one untraced
    * operation after it: the overhead compares those two, because the
    * first operation of a JVM runs with colder JIT than both.
    */
  def run(w: Workload, seconds: Double, trace: Boolean): Unit = {
    val setups = (1 to 3).map { rep =>
      val t0 = now()
      w.setUp(rep)
      secsSince(t0)
    }
    emit("setup", "s" -> setups)
    val t0 = now()
    do {
      emit("calib", "ms" -> calibMs())
      w.op("measured")
    } while (secsSince(t0) < seconds)
    if (trace) {
      val l = new LayerListener
      w.spark.sparkContext.addSparkListener(l)
      val interval = w.op("traced")
      Drain(w.spark.sparkContext)
      w.spark.sparkContext.removeSparkListener(l)
      w.layers(l, interval)
      w.op("after")
    }
    emit("calib", "ms" -> calibMs())
    w.spark.stop()
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, work, data) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val w =
      if (workload == "queries") new QueryWorkload(work, data)
      else new CrawlWorkload(crawls.getOrElse(workload,
        throw new IllegalArgumentException(s"unknown workload $workload")), work, data)
    run(w, seconds, trace)
    emit("rss", "peak_mb" -> peakRssMb())
  }
}
