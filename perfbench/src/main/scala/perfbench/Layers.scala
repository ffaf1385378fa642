package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.CrawlEngine
import graft.functions.{Extract, QuestionParser}
import graft.operators.SeenSet
import graft.plans.SnapshotTable
import graft.sources.PagesGen
import graft.util.Html

/** Per-layer metrics of the traced run. Each `emit("layer", ...)` record
  * carries metric name → value; run.py adds the records together.
  */
object Layers {
  import Main.{emit, now, secsSince}

  /** Layers a job can be attributed to (LayerListener.layerOf). */
  val JobLayers: Seq[String] = Seq("functions", "seenset", "politeness",
    "frontier", "snapshot", "engine", "queries", LayerListener.Other)

  /** Crawl tables whose bytes are reported per url; `bloom` is the
    * pre-filter's snapshot dir, the rest are SnapshotTables.
    */
  val StoreTables: Seq[String] =
    Seq("fetchlog", "questions", "frontier", "seen_cuckoo", "bloom")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def files(dir: Path): Vector[Path] =
    if (!Files.exists(dir)) Vector.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toVector

  private def bytesUnder(dir: Path): Long = files(dir).map(Files.size).sum

  /** Busy seconds per layer, Spark runtime counters and the wall time no
    * job covered, for the jobs that started in [startMs, endMs].
    */
  def jobLayers(l: LayerListener, interval: (Long, Long)): Unit = {
    val (startMs, endMs) = interval
    val jobs = l.jobsIn(startMs, endMs)
    val wallMs = math.max(1L, endMs - startMs)
    val busy = JobLayers.map { layer =>
      s"$layer.job_s" -> LayerListener.unionMs(
        jobs.filter(_.layer == layer).map(j => (j.start, j.end))) / 1e3
    }
    val allMs = LayerListener.unionMs(jobs.map(j => (j.start, j.end)))
    val aggs = l.synchronized(l.tasksByLayer.values.toVector)
    val runMs = aggs.map(_.runMs).sum
    emit("layer", "metrics" -> (busy.toMap ++ Map(
      "engine.driver_gap_s" -> (wallMs - allMs) / 1e3,
      "engine.jobs" -> jobs.size.toDouble,
      "engine.tasks" -> aggs.map(_.tasks).sum.toDouble,
      "spark.shuffle_write_bytes" -> aggs.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> aggs.map(_.spill).sum.toDouble,
      "spark.gc_share" -> (if (runMs == 0) 0.0 else aggs.map(_.gcMs).sum.toDouble / runMs),
      "spark.cpu_busy_share" -> aggs.map(_.cpuNs).sum / 1e6 / (wallMs * 4.0),
      // the layer unions overlap where jobs ran concurrently, so with the
      // gap they account for at least the whole wall time
      "trace.accounted_share" -> (busy.map(_._2).sum * 1e3 + (wallMs - allMs)) / wallMs,
      "politeness.task_skew" -> taskSkew(l, "politeness"))))
  }

  /** Worst max ÷ median task time over a layer's multi-task stages. */
  private def taskSkew(l: LayerListener, layer: String): Double = l.synchronized {
    val ratios = l.stageTaskMs.toSeq.collect {
      case (stage, ms) if ms.size >= 2 && l.stageLayer.get(stage).contains(layer) =>
        val s = ms.map(x => math.max(1L, x).toDouble)
        s.max / median(s.toSeq)
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }

  /** What a finished crawl store shows about each layer. */
  def storeLayers(spark: SparkSession, storeRoot: String, r: CrawlEngine.Result): Unit = {
    val store = Paths.get(storeRoot)
    val urls = (r.fetched + r.deduped).toDouble
    val frontier = new SnapshotTable(spark, storeRoot, "frontier")
    // each finished wave publishes one frontier version after the seeds' v0
    val versions = 1 to frontier.latestVersion.getOrElse(0)
    val waves = math.max(1, versions.size)
    def metaMean(k: String): Double =
      if (versions.isEmpty) 0.0
      else versions.map(v => frontier.metaAt(v).getOrElse(k, "0").toDouble).sum / versions.size
    val cuckoo = new SnapshotTable(spark, storeRoot, "seen_cuckoo")
    val stateBytes = cuckoo.latestVersion.map(cuckoo.versionBytes).getOrElse(0L)
    emit("layer", "metrics" -> (StoreTables.map(t =>
      s"snapshot.bytes_written_per_url.$t" -> bytesUnder(store.resolve(t)) / urls).toMap ++ Map(
      "snapshot.files_written_per_wave" -> files(store).size.toDouble / waves,
      "frontier.staged_bytes_per_wave" -> metaMean("staged_bytes"),
      "frontier.read_dirs_per_wave" -> metaMean("read_dirs"),
      "seenset.state_bytes_per_url" -> stateBytes / math.max(1.0, r.seenCount.toDouble),
      "seenset.bloom_bytes_written" -> bytesUnder(store.resolve("bloom")).toDouble,
      "seenset.suspect_ratio" -> suspectRatio(spark, storeRoot, versions.size),
      "waves" -> waves.toDouble)))
  }

  /** Share of each wave's candidates the bloom pre-filter passed on to the
    * exact confirm, replayed from the store: wave w read frontier version w
    * against the filter saved before it.
    */
  private def suspectRatio(spark: SparkSession, store: String, waves: Int): Double = {
    val frontier = new SnapshotTable(spark, store, "frontier")
    val (sus, cands) = (0 until waves).map { w =>
      val c = frontier.readVersion(w)
      SeenSet.Bloom.load(spark, s"$store/bloom", w) match {
        case Some((_, bloom)) => (SeenSet.bloomSplit(spark, c, bloom)._2.count(), c.count())
        case None => (0L, c.count())
      }
    }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    if (cands == 0) 0.0 else sus.toDouble / cands
  }

  /** Median per-item microseconds of `f` over the sample, repeated until
    * at least `minS` seconds and 5 reps have run.
    */
  private def usPer[A](items: IndexedSeq[A], minS: Double = 0.5)(f: A => Any): Double = {
    items.foreach(f) // warm-up pass
    val reps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = now()
    while (reps.size < 5 || secsSince(t0) < minS) {
      val t = now()
      var i = 0
      while (i < items.length) { f(items(i)); i += 1 }
      reps += (now() - t) / 1e3 / items.length
    }
    median(reps.toSeq)
  }

  val SamplePages = 200
  val SeenProbeUrls = 200000

  /** Single-thread timings of the parse stages over a fixed page sample,
    * and timings of the seen-set insert and probe (Spark jobs, as the crawl
    * runs them) over a fixed url set.
    */
  def directLayers(spark: SparkSession, work: String, sfDir: String): Unit = {
    import spark.implicits._
    val pages = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang").orderBy("doc_id").limit(SamplePages)
      .as[(Long, String, String)].collect()
      .map { case (id, t, lang) => PagesGen.renderRow(id, t, lang).html }.toIndexedSeq
    val strings = pages.map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
    val roots = strings.map(Html.parse)
    val digest = pages.map { p =>
      val parsed = QuestionParser.parsePage(p)
      (parsed.toString + "\u0000" + Extract.pageText(p)).hashCode.toLong
    }.foldLeft(17L)((a, h) => a * 31 + h)
    val fn = Map(
      "functions.parse_us_per_page" -> usPer(pages)(QuestionParser.parsePage(_: Array[Byte])),
      "functions.dom_us_per_page" -> usPer(strings)(Html.parse),
      "functions.objective_us_per_page" -> usPer(roots)(QuestionParser.extractObjectiveQuestions),
      "functions.theory_us_per_page" -> usPer(roots)(QuestionParser.extractTheoryQuestions),
      "functions.next_us_per_page" -> usPer(roots)(QuestionParser.extractNext),
      "functions.page_text_us_per_page" -> usPer(pages)(Extract.pageText(_: Array[Byte])))

    // seen set: insert N hashes as one wave, then probe N seen + N new
    val hashes = spark.range(SeenProbeUrls).select(xxhash64(col("id").cast("string")).as("h"))
      .as[Long].cache()
    hashes.count()
    val cands = spark.range(2L * SeenProbeUrls)
      .select(xxhash64(col("id").cast("string")).as("url_hash")).cache()
    cands.count()
    val capacity = CrawlEngine.Config().cuckooPerShardCapacity
    val timed = (1 to 3).map { rep =>
      val t = new SnapshotTable(spark, s"$work/seenprobe$rep", "seen_cuckoo")
      val t0 = now()
      SeenSet.cuckooInsert(spark, hashes, t, Main.Shards, capacity, 0, exactBase = true)
      val insertS = secsSince(t0)
      val t1 = now()
      val seen = SeenSet.cuckooFlagged(spark, cands, t, Main.Shards,
        requireExact = true).filter(col("is_seen")).count()
      val probeS = secsSince(t1)
      Main.deleteTree(Paths.get(s"$work/seenprobe$rep"))
      (insertS, probeS, seen)
    }
    hashes.unpersist(); cands.unpersist()
    emit("functions_digest", "digest" -> digest.toString, "pages" -> pages.size,
      "seen_probe_urls" -> SeenProbeUrls, "seen_probe_hits" -> timed.map(_._3))
    emit("layer", "metrics" -> (fn ++ Map(
      "seenset.insert_us_per_url" -> median(timed.map(_._1)) * 1e6 / SeenProbeUrls,
      "seenset.probe_us_per_url" -> median(timed.map(_._2)) * 1e6 / (2.0 * SeenProbeUrls))))
  }
}
