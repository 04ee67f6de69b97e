package whbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.etl.{Analytics, Pipeline, Schemas, StarStore, Transform, Validate}
import graft.sources.Sources

/** The warehouse benchmark's JVM side: one workload, one seed, one process.
  *
  * Usage: `whbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  * <scale> <result file>`. The workload's inputs are generated under the
  * work dir from the seed; the result (every metric with its unit, the
  * correctness counts, stamps and, traced, the spans) is written as one
  * JSON object to the result file. `whbench/run.py` is the front end.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    require(argv.length == 7, "usage: <workload> <seed> <seconds> <trace> <dir> <scale> <out>")
    val Array(workload, seed, seconds, trace, dir, scale, out) = argv
    Jvm.install()
    val spark = graft.Engine.session("whbench")
    try {
      val ctx = new Ctx(spark, new Probe(spark, trace == "1"), Gen(seed.toLong, scale.toDouble), dir)
      ctx.log("session started")
      val w: Workload = workload match {
        case "etl_report" => new EtlReport(ctx)
        case "stream_upsert" => new StreamUpsert(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      val setupS = (System.nanoTime() - t0) / 1e9
      Jvm.resetPeak()
      val gc0 = Jvm.gcSeconds
      w.measure(seconds.toDouble)
      val gcS = Jvm.gcSeconds - gc0
      val result = w.result(setupS) ++ Map(
        "layers" -> (w.layerMedians ++ Map(
          "jvm.gc_s" -> gcS,
          // post-GC heap peaks spread by a third across seeds on one box,
          // too unsteady for an end-to-end bound
          "jvm.heap_peak_mb" -> Jvm.peakMb)),
        "stamp" -> Map(
          "spark_version" -> spark.version,
          "cores" -> ctx.cores,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "seed" -> seed.toLong, "scale" -> scale.toDouble, "workload" -> workload),
        "spans" -> ctx.probe.spans.map(s => Map("name" -> s.name, "parent" -> s.parent,
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)).toSeq)
      Files.write(Paths.get(out), Json(result).getBytes("UTF-8"))
    } finally spark.stop()
  }
}

final class Ctx(val spark: SparkSession, val probe: Probe, val gen: Gen, val dir: String) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val data = s"$dir/data"

  def dims: Dims = Dims(
    spark.read.schema(Schemas.assets).parquet(s"$data/assets"),
    spark.read.schema(Schemas.subscribers).parquet(s"$data/subscribers"),
    spark.read.schema(Schemas.postal2city).parquet(s"$data/postal2city"),
    spark.read.schema(Schemas.cities).parquet(s"$data/cities"),
    spark.read.schema(Schemas.countries).parquet(s"$data/countries"))

  /** Logs to stderr, stamped with the seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"[whbench +${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $msg")
}

final case class Dims(assets: DataFrame, subscribers: DataFrame, postal2city: DataFrame,
    cities: DataFrame, countries: DataFrame)

/** A closed loop with one client: the next operation starts when the last
  * one has returned. */
abstract class Workload(val c: Ctx) {
  /** Wall time of each load: a reload, or a drain of every file. */
  val loads = ArrayBuffer[Double]()
  /** Latency of each operation a user waits on: a query, or a trigger. */
  val ops = ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  /** Per-layer readings, one map per traced cycle. */
  val layerSamples = ArrayBuffer[Map[String, Double]]()

  def setup(): Unit
  def cycle(i: Int): Unit
  /** Where the workload's writes land. */
  def storeDir: String

  def spark: SparkSession = c.spark

  /** Runs cycles for `seconds`: the first always, and each next one only
    * if, lasting as long as the last, it ends in time. A run then holds
    * the same number of cycles whatever the box's small swings. */
  def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var last = 0.0
    while (i == 0 || elapsed + last <= seconds) {
      val start = elapsed
      cycle(i)
      last = elapsed - start
      i += 1
    }
  }

  /** Logs a failed check; the caller fails its operation. */
  protected def ok(cond: Boolean, what: => String): Boolean = {
    if (!cond) c.log(s"CHECK FAILED: $what")
    cond
  }

  /** Warms up at full size until [[Workload.settled]], or `maxReps`
    * readings were taken. */
  protected def warm(what: String, maxReps: Int)(body: Int => Double): Unit = {
    val seen = ArrayBuffer[Double]()
    while (seen.size < maxReps && !Workload.settled(seen.toSeq)) seen += body(seen.size)
    c.log(f"warmup $what: ${seen.map(s => f"$s%.2f").mkString(" ")} s")
  }

  /** What is cached at the end of a cycle, before any release. */
  protected def cacheLayers(): Map[String, Double] = {
    val storage = spark.sparkContext.getRDDStorageInfo
    Map("caches.storage_mb" -> storage.map(s => s.memSize + s.diskSize).sum / 1048576.0,
      "caches.persisted" -> storage.length.toDouble)
  }

  def layerMedians: Map[String, Double] =
    layerSamples.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(layerSamples.flatMap(_.get(k)).toSeq)
    }.toMap

  def result(setupS: Double): Map[String, Any] = {
    val (tailPct, tailValue, beyond) = Stats.tail(ops.toSeq)
    val loadS = Stats.median(loads.toSeq)
    Map(
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Map(
        "setup_s" -> setupS,
        "load_s" -> loadS,
        "rec_per_s" -> c.gen.rows / loadS,
        "op_p50_ms" -> Stats.median(ops.toSeq) * 1000,
        "store_mb" -> Stats.dirMb(storeDir)),
      // a run has too few operations for a tail with ten samples beyond it:
      // recorded with its sample count, not bounded
      "op_tail" -> Map("ms" -> tailValue * 1000, "percentile" -> tailPct,
        "samples" -> ops.size, "samples_beyond" -> beyond),
      "ops" -> ops.size, "loads" -> loads.size,
      "op_ms" -> ops.map(_ * 1000).toSeq, "load_s" -> loads.toSeq)
  }
}

object Workload {
  /** Two successive readings agree within a fifth: the cold first reading
    * is typically half again slower, while the box alone moves readings by
    * a tenth or more. */
  def settled(readings: Seq[Double]): Boolean = readings.size >= 2 && {
    val Seq(a, b) = readings.takeRight(2)
    math.abs(b - a) <= 0.2 * a
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest whole percentile from p50 up with at least ten samples
    * beyond it: (percentile, value, samples beyond). When even p50 has fewer
    * than ten beyond it, the maximum is reported as percentile 100. */
  def tail(xs: Seq[Double]): (Int, Double, Int) = {
    val s = xs.sorted
    def idx(p: Int) = math.max(0, math.ceil(s.size * p / 100.0).toInt - 1)
    (99 to 50 by -1).find(p => s.size - idx(p) - 1 >= 10) match {
      case Some(p) => (p, s(idx(p)), s.size - idx(p) - 1)
      case None => (100, if (s.isEmpty) 0.0 else s.last, 0)
    }
  }

  def dirMb(dir: String): Double = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0.0
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(p => p.getFileName.toString.endsWith(".crc"))
        .map(Files.size).sum / 1048576.0
      finally w.close()
    }
  }

  /** Data files under `dir` last modified at or after `sinceMs`. */
  def partFiles(dir: String, sinceMs: Long = 0L): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-") &&
          Files.getLastModifiedTime(p).toMillis >= sinceMs).toList
      finally w.close()
    }
  }

  def rmTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally w.close()
    }
  }
}

/** The reference's accounting profile: a seed must reproduce it. */
object Profile {
  val Retention: Double = 1147679.0 / 1181863
  val Recovered: Double = 161588.0 / 1181863

  def check(c: Ctx, s: Pipeline.EtlStats): Unit = {
    val n = s.read.toDouble
    val recovered = s.recoveredByInference / n
    c.log(f"accounting seed=${c.gen.seed}: read=${s.read} recovered=${s.recoveredByInference} " +
      f"(${100 * recovered}%.2f %%) dropped=${s.dropped} (no country ${s.missingCountry}, " +
      f"no sport ${s.missingSport}, no date ${s.missingDate}) valid=${s.valid} " +
      f"retention=${100 * s.retention}%.2f %%")
    // five binomial standard deviations, and never tighter than 0.2 points
    def tol(p: Double) = math.max(0.002, 5 * math.sqrt(p * (1 - p) / n))
    if (math.abs(s.retention - Retention) > tol(Retention) ||
        math.abs(recovered - Recovered) > tol(Recovered))
      throw new IllegalStateException(
        f"seed ${c.gen.seed} is off the reference profile: retention ${100 * s.retention}%.2f %% " +
          f"(want 97.1), recovered ${100 * recovered}%.2f %% (want 13.7)")
  }
}

/** The nightly cycle: a full reload (sources → `Pipeline.runSinglePass` →
  * star write → `Validate`), then the 11 `etl.Analytics` queries over the
  * star just written, read back through `StarStore` (twice when measured). */
final class EtlReport(c0: Ctx) extends Workload(c0) {
  private var expected: Expected = _
  /** The accounting of the latest reload, as the program computed it. */
  private var stats: Pipeline.EtlStats = _
  val storeDir = s"${c.dir}/star"
  private val years = 2021 to 2025

  def setup(): Unit = {
    expected = c.gen.writeBatchInputs(spark, c.data)
    c.log("inputs generated")
    warm("reload + report", maxReps = 4) { i =>
      val t0 = System.nanoTime()
      val good = reload(s"warm$i")
      if (i == 0) Profile.check(c, stats)
      if (!good || report(s"warm$i") > 0)
        throw new IllegalStateException("a warm-up cycle failed its checks")
      (System.nanoTime() - t0) / 1e9
    }
  }

  def cycle(i: Int): Unit = {
    val tag = s"c$i"
    if (c.probe.tracing) prefixes(tag)
    val t0 = System.nanoTime()
    val good = try reload(tag) catch {
      case e: Exception => c.log(s"$tag reload failed: $e"); false
    }
    loads += (System.nanoTime() - t0) / 1e9
    attempted += 1
    if (!good) failed += 1
    // the report runs twice per reload: twice the query samples for the
    // cost of one more report; the layers are read from the first
    report(tag, measured = true)
    report(s"$tag.again", measured = true)
    if (c.probe.tracing) layerSamples += loadLayers(tag) ++ readLayers(tag) ++ cacheLayers()
  }

  private def txns: DataFrame =
    Sources.parquetTxns(spark, s"${c.data}/ops_txns")
      .unionByName(Pipeline.normalizeCsv(Sources.csvExport(spark, s"${c.data}/csv_export")))

  /** One reload; keeps its accounting in [[stats]] and returns whether
    * every check held. */
  private def reload(tag: String): Boolean = {
    val p = c.probe
    val d = c.dims
    val etl = Pipeline.runSinglePass(spark, txns, d.assets, d.subscribers, d.postal2city,
      d.cities, d.countries)
    p.span(s"$tag/write_fact", tag) { StarStore.writeFact(etl.fact, storeDir) }
    val (s, dimDate) = p.span(s"$tag/finish", tag) { etl.finish() }
    stats = s
    p.span(s"$tag/write_dims", tag) {
      StarStore.writeDims(dimDate, etl.dimCountry, etl.dimSport, storeDir)
    }
    p.span(s"$tag/validate", tag) {
      val fact = StarStore.readFact(spark, storeDir)
      Validate.conservation(fact, stats.valid)
      Validate.weekRange(fact)
      Validate.nullAudit(fact)
    }
    ok(stats.read == expected.read, s"read ${stats.read} != ${expected.read}") &
      ok(stats.valid == expected.valid, s"valid ${stats.valid} != ${expected.valid}") &
      ok(stats.recoveredByInference == expected.recovered,
        s"recovered ${stats.recoveredByInference} != ${expected.recovered}") &
      ok(stats.missingSport == expected.missingSport, "missing sport") &
      ok(stats.missingCountry == expected.missingCountry, "missing country")
  }

  /** (name, query, check of its collected rows against the accounting). */
  private def queries(fact: DataFrame, dimDate: DataFrame, dimCountry: DataFrame)
      : Seq[(String, () => DataFrame, Array[Row] => Boolean)] = {
    val valid = expected.valid
    def total(field: String)(rows: Array[Row]): Long = rows.map(_.getAs[Long](field)).sum
    Seq(
      ("a01", () => Analytics.executiveSummary(fact), (r: Array[Row]) =>
        r.length == 1 && r(0).getAs[Long]("total_transactions") == valid &&
          r(0).getAs[Long]("countries") == Gen.Countries.size),
      ("a02", () => Analytics.growthByYearSport(fact),
        (r: Array[Row]) => total("streaming_events")(r) == valid),
      ("a03", () => Analytics.pivotSportByYear(fact, years), (r: Array[Row]) =>
        r.map(row => years.map(y => row.getAs[Long](y.toString)).sum).sum == valid),
      ("a04", () => Analytics.weeklyForMaxYear(fact),
        (r: Array[Row]) => total("transactions")(r) == expected.validInMaxYear),
      ("a05", () => Analytics.sportAnalysis(fact),
        (r: Array[Row]) => total("transactions")(r) == valid),
      ("a06", () => Analytics.countryAnalysis(fact, dimCountry),
        (r: Array[Row]) => total("transactions")(r) == valid && r.length == Gen.Countries.size),
      ("a07", () => Analytics.dayOfWeekAnalysis(fact, dimDate),
        (r: Array[Row]) => total("transactions")(r) == valid && r.length == 7),
      ("a08", () => Analytics.peakDayBySport(fact, dimDate),
        (r: Array[Row]) => r.length == Gen.Sports),
      ("a09", () => Analytics.peakDayByCountry(fact, dimDate, dimCountry),
        (r: Array[Row]) => r.length == Gen.Countries.size),
      // shares are rounded to tenths: their sum is compared in tenths too
      ("a10", () => Analytics.sportShare(fact), (r: Array[Row]) =>
        total("transactions")(r) == valid &&
          math.abs(math.round(r.map(_.getAs[Double]("pct_share")).sum * 10) - 1000) <= 1),
      ("a11", () => Analytics.yoyGrowth(fact),
        (r: Array[Row]) => total("transactions")(r) == valid && r.length == years.size))
  }

  /** One full report; returns the number of failed queries. Measured, each
    * query is one operation. */
  private def report(tag: String, measured: Boolean = false): Int = {
    val p = c.probe
    val (fact, dimDate, dimCountry) = p.span(s"$tag/read", tag) {
      (StarStore.readFact(spark, storeDir), StarStore.readDimDate(spark, storeDir),
        StarStore.readDimCountry(spark, storeDir))
    }
    var bad = 0
    for ((name, q, check) <- queries(fact, dimDate, dimCountry)) {
      val t0 = System.nanoTime()
      val good = try {
        val df = q()
        if (p.tracing) {
          val t = System.nanoTime()
          df.queryExecution.executedPlan
          planMs(s"$tag/$name") = (System.nanoTime() - t) / 1e6
        }
        val rows = p.span(s"$tag/$name", tag) { df.collect() }
        if (p.tracing) filesScanned(s"$tag/$name") = Scans.filesRead(df)
        ok(check(rows), s"$tag $name: result breaks the accounting invariants: " +
          rows.mkString(" "))
      } catch { case e: Exception => c.log(s"$tag $name failed: $e"); false }
      if (measured) {
        ops += (System.nanoTime() - t0) / 1e9
        attempted += 1
        if (!good) failed += 1
      }
      if (!good) bad += 1
    }
    bad
  }
  /** Traced: per `<tag>/<query>`, planning time and files its scans read. */
  private val planMs = scala.collection.mutable.Map[String, Double]()
  private val filesScanned = scala.collection.mutable.Map[String, Long]()

  /** The traced run times each lazy layer by materializing the plan prefix
    * that ends at its public function to the `noop` sink; a layer's self
    * time is the difference between consecutive prefixes. */
  private def prefixes(tag: String): Unit = {
    val p = c.probe
    val d = c.dims
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    p.span(s"$tag/p.sources") { noop(txns) }
    val uc = Transform.userCountry(d.subscribers, d.postal2city, d.cities)
    val as = Transform.assetSport(d.assets)
    p.span(s"$tag/p.maps") { noop(uc); noop(as) }
    mapRows = uc.count() + as.count()
    val enriched = Transform.enrich(txns, uc, as)
    p.span(s"$tag/p.enrich") { noop(enriched) }
    p.span(s"$tag/p.rollup") { noop(Transform.rollup(Transform.qualityGate(enriched))) }
  }
  private var mapRows = 0L

  private def loadLayers(tag: String): Map[String, Double] = {
    val p = c.probe
    val (srcS, src) = p.read(s"$tag/p.sources")
    val (mapS, maps) = p.read(s"$tag/p.maps")
    val (enrS, enr) = p.read(s"$tag/p.enrich")
    val (rolS, rol) = p.read(s"$tag/p.rollup")
    val (wfS, wf) = p.read(s"$tag/write_fact")
    val (wdS, wd) = p.read(s"$tag/write_dims")
    val (finS, fin) = p.read(s"$tag/finish")
    val (valS, vl) = p.read(s"$tag/validate")
    val enrSelf = enr.minus(src).minus(maps)
    val rolSelf = rol.minus(enr)
    Probe.layer("sources", srcS, src, c.cores) ++
      Probe.layer("transform.maps", mapS, maps, c.cores) ++
      Probe.layer("transform.enrich", enrS - srcS - mapS, enrSelf, c.cores) ++
      Probe.layer("transform.rollup", rolS - enrS, rolSelf, c.cores) ++
      Probe.layer("starstore.write", wfS - rolS, wf.minus(rol), c.cores) ++
      // writeDims re-executes the whole fact plan for dim_sport, so the dim
      // write is reported apart, with that recompute in it
      Probe.layer("starstore.write_dims", wdS, wd, c.cores) ++
      Probe.layer("pipeline.finish", finS, fin, c.cores) ++
      Probe.layer("validate", valS, vl, c.cores) ++ Map(
        "sources.rows_read" -> src.inputRecords.toDouble,
        "sources.input_mb" -> src.inputBytes / 1048576.0,
        "transform.maps.rows" -> mapRows.toDouble,
        "transform.enrich.rows_valid" -> stats.valid.toDouble,
        "transform.enrich.rows_recovered" -> stats.recoveredByInference.toDouble,
        "transform.enrich.shuffle_mb" -> enrSelf.shuffleWriteBytes / 1048576.0,
        "transform.rollup.shuffle_mb" -> rolSelf.shuffleWriteBytes / 1048576.0,
        "transform.rollup.spill_mb" -> rolSelf.spillBytes / 1048576.0,
        "transform.rollup.grain_rows" -> StarStore.readFact(spark, storeDir).count().toDouble,
        "starstore.write.files" -> Stats.partFiles(storeDir).size.toDouble,
        "starstore.write.mb" -> Stats.dirMb(storeDir))
  }

  private def readLayers(tag: String): Map[String, Double] = {
    val p = c.probe
    val names = (1 to 11).map(i => f"a$i%02d")
    val timed = names.map(n => n -> p.read(s"$tag/$n")).toMap
    val all = timed.values.map(_._2).reduce(_ plus _)
    val (readS, read) = p.read(s"$tag/read")
    names.flatMap { n =>
      Seq(s"analytics.$n.plan_ms" -> planMs(s"$tag/$n"),
        s"analytics.$n.exec_ms" -> timed(n)._1 * 1000,
        s"analytics.$n.tasks" -> timed(n)._2.tasks.toDouble,
        s"analytics.$n.files_scanned" -> filesScanned(s"$tag/$n").toDouble)
    }.toMap ++
      Probe.layer("analytics", timed.values.map(_._1).sum, all, c.cores) ++
      Probe.layer("starstore.read", readS, read, c.cores) ++ Map(
        "starstore.read.files_scanned" -> names.map(n => filesScanned(s"$tag/$n")).sum.toDouble,
        "starstore.read.mb" -> all.inputBytes / 1048576.0)
  }
}

/** Files read by the parquet scans of an executed query. */
object Scans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

/** The rows arrive as parquet files of [[Gen.fileRows]] rows in arrival
  * order (the reference's 50 K-row batches, scaled); each is
  * renamed into the drop directory of a running `StreamingIngest` query,
  * and the next is dropped only after that file's trigger commits. */
final class StreamUpsert(c0: Ctx) extends Workload(c0) {
  private var nFiles = 0
  private var reference: Seq[Row] = Nil
  private val factCols = Schemas.factStreamingSummary.fieldNames.toSeq
  private def filesDir = s"${c.data}/stream_files"
  private var lastStore = ""
  def storeDir: String = lastStore
  /** The warm-up drain stops after this many triggers even if unsettled. */
  private val WarmTriggers = 8

  def setup(): Unit = {
    nFiles = c.gen.writeStreamInputs(spark, c.data)
    c.log(s"inputs generated: $nFiles files")
    val d = c.dims
    val etl = Pipeline.runSinglePass(spark,
      spark.read.parquet(filesDir).filter(col("file") < nFiles).drop("file"),
      d.assets, d.subscribers, d.postal2city, d.cities, d.countries)
    reference = sorted(etl.fact)
    Profile.check(c, etl.finish()._1)
    drain("warm", measured = false)
  }

  private def sorted(fact: DataFrame): Seq[Row] =
    fact.select(factCols.map(col): _*)
      .orderBy("date_id", "country_id", "sport_name").collect().toSeq

  private def fileOf(k: Int): Path = {
    val w = Files.list(Paths.get(s"$filesDir/file=$k"))
    try w.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
    finally w.close()
  }

  /** One drain of every file through a fresh query. Warming up, the drain
    * stops once its triggers have settled, or after [[WarmTriggers]]. */
  private def drain(tag: String, measured: Boolean): Unit = {
    val root = s"${c.dir}/$tag"
    val (drop, landing, store, ckpt) = (s"$root/drop", s"$root/landing", s"$root/store",
      s"$root/ckpt")
    Seq(drop, landing).foreach(d => Files.createDirectories(Paths.get(d)))
    val d = c.dims
    val q = graft.streaming.StreamingIngest.start(spark, drop, store, d.assets,
      d.subscribers, d.postal2city, d.cities, ckpt, trigger = Trigger.ProcessingTime(0L),
      maxFilesPerTrigger = Some(1))
    val t0 = System.nanoTime()
    var good = true
    val warmed = ArrayBuffer[Double]()
    try {
      for (k <- 0 until nFiles
          if measured || (warmed.size < WarmTriggers && !Workload.settled(warmed.toSeq))) {
        val name = f"batch-$k%04d.parquet"
        val staged = Files.copy(fileOf(k), Paths.get(landing, name))
        val sinceMs = System.currentTimeMillis()
        val t = System.nanoTime()
        Files.move(staged, Paths.get(drop, name), StandardCopyOption.ATOMIC_MOVE)
        val committed = awaitBatch(q, k)
        val lat = (System.nanoTime() - t) / 1e9
        if (!committed) good = false
        if (!measured) warmed += lat
        else {
          ops += lat
          attempted += 1
          if (!committed) failed += 1
          if (c.probe.tracing) layerSamples += triggerLayers(q.id.toString, k, lat, store, sinceMs)
        }
      }
      val s = (System.nanoTime() - t0) / 1e9
      q.stop()
      if (measured && c.probe.tracing) layerSamples += cacheLayers()
      if (measured) {
        loads += s
        attempted += 1 // the drain's equality check
        if (!ok(good && sorted(StarStore.readFact(spark, store)) == reference,
            s"$tag: the stream's fact differs from the batch fact over the same rows"))
          failed += 1
      } else {
        c.log(f"warmup triggers: ${warmed.map(s => f"$s%.2f").mkString(" ")} s")
        if (!good) throw new IllegalStateException("a warm-up trigger failed")
      }
    } finally {
      q.stop()
      graft.Caches.releaseAll(blocking = true)
      if (lastStore.nonEmpty) Stats.rmTree(new java.io.File(lastStore).getParent)
      lastStore = store
    }
  }

  /** Waits for the commit of batch `k`; false if the query died. */
  private def awaitBatch(q: org.apache.spark.sql.streaming.StreamingQuery, k: Int): Boolean = {
    def done = Option(q.lastProgress).exists(p => p.batchId >= k && p.numInputRows > 0)
    while (!done && q.isActive) Thread.sleep(1)
    done
  }

  private def triggerLayers(queryId: String, k: Int, lat: Double, store: String,
      sinceMs: Long): Map[String, Double] = {
    val t = c.probe.streamTally(queryId, k)
    val prog = c.probe.progress.synchronized {
      c.probe.progress.find(p => p.id.toString == queryId && p.batchId == k)
    }
    val dur = prog.map(_.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
      .getOrElse(Map.empty[String, Double])
    val inputRows = prog.map(_.numInputRows).getOrElse(0L)
    val l = Probe.layer("streamingingest", lat, t, c.cores)
    (l - "streamingingest.jobs") ++ Map(
      "streamingingest.jobs_per_trigger" -> t.jobs.toDouble,
      "streamingingest.staged_rows_scanned" -> (t.inputRecords - inputRows).toDouble,
      "streamingingest.files_written_per_trigger" ->
        Stats.partFiles(store, sinceMs).size.toDouble) ++
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
        .map(n => s"streamingingest.${n}_ms" -> dur.getOrElse(n, 0.0))
  }

  def cycle(i: Int): Unit = drain(s"d$i", measured = true)
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
