package whbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Schemas

/** Seeded generator of the reference's input profile (BASELINE.md).
  *
  * Every column is a pure function of (seed, row id) through `xxhash64`, so
  * the same seed yields the same rows whatever the partitioning. Row kinds
  * are drawn from one uniform so that the drop reasons are disjoint and the
  * expected accounting is known exactly from the draw ([[Expected]]), with
  * no use of the program under test:
  *  - ~13.67 % of rows name an asset missing from the master (or present
  *    with a NULL/empty sport) whose prefix `SportInference` resolves;
  *  - ~2.05 % name an asset with an unknown prefix (dropped: no sport);
  *  - ~0.85 % name a user whose postal chain reaches no country (dropped);
  *  - the rest resolve through the master and the postal chain.
  * That is the reference's 161,588 recovered / 24,184 + 10,000 dropped of
  * 1,181,863 read, 97.1 % retention.
  */
final case class Gen(seed: Long, scale: Double) {
  import Gen._

  val opsRows: Long = math.max(200L, math.round(OpsRows * scale))
  val csvRows: Long = math.max(50L, math.round(CsvRows * scale))
  val rows: Long = opsRows + csvRows
  /** Rows per stream file: the reference's 50 K-row batch scaled with the
    * input, so a drain holds about 24 triggers at any scale, as the
    * reference's 1.18 M rows do in 50 K batches. */
  val fileRows: Long = math.max(1L, math.round(FileRows * scale))

  /** Uniform in [0, 1) drawn from (seed, id, salt). */
  private def u(salt: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1L << 40)).cast("double") /
      lit((1L << 40).toDouble)

  private def pick(salt: Int, n: Int): Column =
    least(floor(u(salt) * n).cast("int"), lit(n - 1))

  private def pad(c: Column): Column = lpad(c.cast("string"), 7, "0")

  /** One row per transaction id 0 … rows-1, with its generation flags. */
  def transactions(spark: SparkSession): DataFrame = {
    val r = u(1)
    val kind =
      when(r < RecoveredShare, "recovered")
        .when(r < RecoveredShare + SportDropShare, "no_sport")
        .when(r < RecoveredShare + SportDropShare + CountryDropShare, "no_country")
        .otherwise("ok")
    val day =
      when(col("id") === 0, lit(0))
        .when(col("id") === 1, lit(Days - 1))
        .otherwise(pick(4, Days))
    spark.range(0, rows, 1, 8)
      .withColumn("kind", kind)
      .withColumn("day", day)
      // users are drawn with a mild skew: a few heavy viewers, a long tail
      .withColumn("user_idx", least(floor(pow(u(3), lit(1.3)) * Users).cast("int"),
        lit(Users - 1)))
      .withColumn("asset_idx", pick(2, 1 << 20))
      .select(
        col("id"), col("kind"), col("day"),
        (col("id") + 1).as("transaction_id"),
        when(col("kind") === "no_country",
          concat(lit("x"), pad(col("user_idx") % OrphanUsers)))
          .otherwise(concat(lit("u"), pad(col("user_idx")))).as("user_id"),
        when(col("kind") === "recovered", orphanAsset(col("asset_idx") % OrphanAssets))
          .when(col("kind") === "no_sport", unknownAsset(col("asset_idx") % UnknownAssets))
          .otherwise(masterAsset(col("asset_idx") % MasterAssets)).as("asset_id"),
        date_format(date_add(lit(FirstDay).cast("date"), col("day")), "yyyy-MM-dd")
          .as("streaming_date"),
        (floor(u(5) * 180) + 1).cast("int").as("minutes_streamed"),
        when(u(6) < 0.62, 1).otherwise(0).as("completed"),
        (u(8) < LateShare).as("late"),
        floor(u(9) * 730).cast("int").as("late_by"),
        u(7).as("r7"))
  }

  private def prefixFor(idx: Column, prefixes: Seq[String]): Column =
    element_at(array(prefixes.map(lit): _*), (idx % prefixes.size).cast("int") + 1)

  /** Master assets carry their sport in the asset table. */
  private def masterAsset(idx: Column): Column =
    concat(prefixFor(idx, MasterPrefixes), lit("-M"), pad(idx))
  /** Orphans miss the master (or carry a NULL/empty sport there) but have a
    * prefix `SportInference` knows. */
  private def orphanAsset(idx: Column): Column =
    concat(prefixFor(idx, InferablePrefixes), lit("-O"), pad(idx))
  private def unknownAsset(idx: Column): Column =
    concat(prefixFor(idx, UnknownPrefixes), lit("-U"), pad(idx))

  def assets(spark: SparkSession): DataFrame = {
    val master = spark.range(0, MasterAssets).select(
      masterAsset(col("id")).as("asset_id"),
      element_at(array(MasterSports.map(lit): _*),
        (col("id") % MasterPrefixes.size).cast("int") + 1).as("sport"))
    // every fifth orphan is in the master with a NULL or empty sport
    val blank = spark.range(0, OrphanAssets, 5).select(
      orphanAsset(col("id")).as("asset_id"),
      when(col("id") % 10 === 0, lit(null).cast("string")).otherwise(lit("")).as("sport"))
    master.unionByName(blank)
  }

  def subscribers(spark: SparkSession): DataFrame = {
    val base = spark.range(0, Users).select(
      concat(lit("u"), pad(col("id"))).as("user_id"),
      concat(lit("P"), pad(pmod(xxhash64(lit(seed), col("id"), lit(11)), lit(Postal))))
        .as("postal_code"))
    // 0.5 % of users hold a second postal code, in another country
    val second = spark.range(0, Users, 200).select(
      concat(lit("u"), pad(col("id"))).as("user_id"),
      concat(lit("P"), pad(pmod(xxhash64(lit(seed), col("id"), lit(11)) + 1, lit(Postal))))
        .as("postal_code"))
    // half the orphan users are unknown; half have a postal code that no
    // city lists
    val dangling = spark.range(0, OrphanUsers, 2).select(
      concat(lit("x"), pad(col("id"))).as("user_id"),
      concat(lit("Z"), pad(col("id"))).as("postal_code"))
    base.unionByName(second).unionByName(dangling)
  }

  def postal2city(spark: SparkSession): DataFrame =
    spark.range(0, Postal).select(
      concat(lit("P"), pad(col("id"))).as("postal_code"),
      (col("id") % Cities + 1).cast("int").as("city_id"))

  def cities(spark: SparkSession): DataFrame =
    spark.range(1, Cities + 1).select(
      col("id").cast("int").as("city_id"),
      ((col("id") - 1) % Countries.size + 1).cast("int").as("country_id"))

  def countries(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      Countries.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i + 1, c) }, 1), Schemas.countries)

  private def txnColumns: Seq[Column] =
    Seq("transaction_id", "user_id", "asset_id", "streaming_date",
      "minutes_streamed", "completed").map(col)

  /** Writes the operational store (dims, and `opsRows` transactions as
    * parquet) and the 10-column CSV export (`csvRows` rows); returns the
    * accounting the draw implies. */
  def writeBatchInputs(spark: SparkSession, dir: String): Expected = {
    val t = transactions(spark)
    writeDims(spark, dir)
    t.filter(col("id") < opsRows).select(txnColumns: _*)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/ops_txns")
    t.filter(col("id") >= opsRows)
      .select(
        col("transaction_id"),
        concat(lit("S"), substring(col("user_id"), 2, 7)).as("subscriber_id"),
        col("user_id"), col("asset_id"), col("streaming_date"),
        date_format((col("r7") * 86399).cast("long").cast("timestamp"), "HH:mm:ss")
          .as("streaming_start_time"),
        col("minutes_streamed"),
        element_at(array(Devices.map(lit): _*),
          (col("transaction_id") % Devices.size).cast("int") + 1).as("device_type"),
        element_at(array(Qualities.map(lit): _*),
          (col("transaction_id") % Qualities.size).cast("int") + 1).as("quality_streamed"),
        col("completed").cast("string").as("completed"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$dir/csv_export")
    expected(t)
  }

  /** Writes the dims plus every transaction as parquet files of about
    * `fileRows` rows, one per `file=k` directory, in arrival order: date
    * order, except that ~1 % of rows arrive one to three years after their
    * date. Files split at arrival-day boundaries. Returns the file count. */
  def writeStreamInputs(spark: SparkSession, dir: String): Int = {
    writeDims(spark, dir)
    val t = transactions(spark)
      .withColumn("arrival", when(col("late"), col("day") + 365 + col("late_by"))
        .otherwise(col("day")))
    val perDay = t.groupBy("arrival").count().orderBy("arrival").collect()
    val cumulative = perDay.map(_.getLong(1)).scanLeft(0L)(_ + _)
    val fileOfDay = perDay.zip(cumulative).map { case (r, before) =>
      org.apache.spark.sql.Row(r.getInt(0), (before / fileRows).toInt) }
    val days = spark.createDataFrame(spark.sparkContext.parallelize(fileOfDay.toSeq, 1),
      org.apache.spark.sql.types.StructType.fromDDL("arrival INT, file INT"))
    t.join(broadcast(days), "arrival")
      .select(txnColumns :+ col("file"): _*)
      .repartition(col("file"))
      .write.mode(SaveMode.Overwrite).partitionBy("file").parquet(s"$dir/stream_files")
    fileOfDay.map(_.getInt(1)).max + 1
  }

  def writeDims(spark: SparkSession, dir: String): Unit = {
    assets(spark).write.mode(SaveMode.Overwrite).parquet(s"$dir/assets")
    subscribers(spark).write.mode(SaveMode.Overwrite).parquet(s"$dir/subscribers")
    postal2city(spark).write.mode(SaveMode.Overwrite).parquet(s"$dir/postal2city")
    cities(spark).write.mode(SaveMode.Overwrite).parquet(s"$dir/cities")
    countries(spark).write.mode(SaveMode.Overwrite).parquet(s"$dir/countries")
  }

  def expected(t: DataFrame): Expected = {
    val r = t.agg(
      count(lit(1)),
      sum(when(col("kind") === "recovered", 1L).otherwise(0L)),
      sum(when(col("kind") === "no_sport", 1L).otherwise(0L)),
      sum(when(col("kind") === "no_country", 1L).otherwise(0L)),
      sum(when(col("kind") =!= "no_sport" && col("kind") =!= "no_country" &&
        col("day") >= MaxYearFirstDay, 1L).otherwise(0L))).head()
    Expected(read = r.getLong(0), recovered = r.getLong(1),
      missingSport = r.getLong(2), missingCountry = r.getLong(3),
      validInMaxYear = r.getLong(4))
  }
}

/** The accounting a generated input must produce. */
final case class Expected(read: Long, recovered: Long, missingSport: Long,
    missingCountry: Long, validInMaxYear: Long) {
  def valid: Long = read - missingSport - missingCountry
}

object Gen {
  // reference counts (BASELINE.md; README R:18-34, R:195-206)
  val OpsRows = 1083131L
  val CsvRows = 98732L
  val FileRows = 50000L
  val Days = 1752 // 2021-01-01 → 2025-10-18
  val FirstDay = "2021-01-01"
  /** Day index of 2025-01-01, the first day of the profile's last year. */
  val MaxYearFirstDay = 1461
  val RecoveredShare: Double = 161588.0 / 1181863
  val SportDropShare: Double = 24184.0 / 1181863
  val CountryDropShare: Double = 10000.0 / 1181863
  val LateShare = 0.01

  // a user→country map of ~100 K users is a multi-MB broadcast
  val Users = 100000
  val OrphanUsers = 2000
  val Postal = 2000
  val Cities = 100
  val Countries = Seq("Germany", "Austria", "Switzerland", "Czech Republic")
  val MasterAssets = 6000
  val OrphanAssets = 1500
  val UnknownAssets = 300

  val Sports = 3
  val MasterPrefixes = Seq("DEL", "IHL", "SKJ", "AHL", "ICEHL", "FIS")
  val MasterSports = Seq("Ice Hockey", "Inline Hockey", "Ski Jumping",
    "Ice Hockey", "Inline Hockey", "Ski Jumping")
  val InferablePrefixes = Seq("DEL", "AHL", "AIH", "IHB", "SIH", "NLN", "NLA",
    "ICE", "NXXX", "SLXXX", "IHL", "ICEHL", "SKJ", "SKA", "FIS")
  val UnknownPrefixes = Seq("OXXX", "MSL")
  val Devices = Seq("mobile", "desktop", "tv", "tablet")
  val Qualities = Seq("SD", "HD", "4K")
}
