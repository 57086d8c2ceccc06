package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CovidOps, Dims, Mart}
import graft.pipeline.CovidPipeline
import graft.quality.Quality
import graft.sources.Sinks

/** The paper's pipeline through `CovidPipeline.runRange`, fed by
  * `CovidReportSource` with the benchmark's seeded payload provider.
  *
  * etl_daily: one call per day at the reference width (5 countries x 48
  * provinces, 240 fact rows a day), 9 days a round; every 3rd day is
  * landed twice to exercise the idempotent partition overwrite.
  *
  * Every landed day is read back and checked against the generator after
  * the round, outside the timed calls. */
final class Etl(o: Main.Opts) extends Main.Workload {
  private val provinces = 48
  private val expectedRows = CovidInputs.countries.size.toLong * provinces
  private val daysPerRound = 9
  private val relandEvery = 3
  val maxRounds = 3
  private val replayCount = 4

  private val start = LocalDate.of(2022, 1, 1)
  private def days(from: Int, n: Int): Seq[String] =
    (from until from + n).map(i => start.plusDays(i).toString)
  private val warmDays = days(0, Etl.WarmUpDays)
  private def roundDays(r: Int): Seq[String] =
    days(Etl.WarmUpDays + r * daysPerRound, daysPerRound)
  private val replayDays = days(Etl.WarmUpDays + maxRounds * daysPerRound, replayCount)

  private val lake = o.work.resolve("lake").toString
  private val warmLake = o.work.resolve("warm-lake").toString
  private val replayLake = o.work.resolve("replay-lake").toString
  private val landed = scala.collection.mutable.LinkedHashSet.empty[String]
  private val mix = QueryMix.load(o.mix)

  // traced-round totals
  private var tracedDays = 0
  private var fetchCalls, fetchDistinct = 0L
  private val totals = new OpTotals

  def generate(): Unit =
    CovidInputs.generate(o.seed,
      warmDays ++ (0 until maxRounds).flatMap(roundDays) ++
        (if (o.traced) replayDays else Nil), provinces)

  private def stageFor(spark: SparkSession)(ds: String): DataFrame =
    spark.read.format("graft.sources.CovidReportSource")
      .option("date", ds)
      .option("provincesPerCountry", provinces.toString)
      .option("payloadProvider", classOf[SeededPayloadProvider].getName)
      .load()

  private def land(spark: SparkSession, ds: Seq[String], path: String): Unit = {
    val got = CovidPipeline.runRange(spark, ds.head, ds.last, path, stageFor(spark),
      expectedRows = expectedRows)
    if (got != ds) sys.error(s"runRange landed ${got.mkString(",")}, expected ${ds.mkString(",")}")
  }

  /** Checks landed days read back from `lake`: per day, the row count, no
    * NULL keys, one date key equal to the day, and the generator's
    * sum(confirmed). A re-landing that kept the old rows fails the row
    * count. Returns the days that fail. */
  private def failedDays(lake: DataFrame, days: Seq[String]): Set[String] = {
    val got = lake.where(col("day_of_data").cast("string").isin(days: _*))
      .groupBy(col("day_of_data").cast("string").as("ds"))
      .agg(count(lit(1)), sum(col("confirmed")),
        count(when(col("date_key").isNull, 1)), count(when(col("region_key").isNull, 1)),
        min(col("date_key")), max(col("date_key")))
      .collect().map(r => r.getString(0) -> r).toMap
    val bad = days.filterNot { ds =>
      val key = ds.replace("-", "").toInt
      got.get(ds).exists(r => r.getLong(1) == expectedRows && !r.isNullAt(2) &&
        r.getLong(2) == CovidInputs.expectedConfirmed(ds) &&
        r.getLong(3) == 0 && r.getLong(4) == 0 && r.getInt(5) == key && r.getInt(6) == key)
    }.toSet
    if (bad.nonEmpty) System.err.println(
      s"[perfbench] check failed for ${bad.toSeq.sorted.mkString(", ")}: $got")
    bad
  }

  /** Lands the warm-up days one call each, the way a round does, into a
    * lake of its own. */
  def warmUp(spark: SparkSession): Unit = {
    val secs = warmDays.map { ds =>
      val t0 = System.nanoTime()
      land(spark, Seq(ds), warmLake)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println("[perfbench] warm-up landings, median s per 8: " +
      secs.grouped(8).map(g => f"${Main.median(g)}%.3f").mkString(" "))
    val bad = failedDays(spark.read.parquet(warmLake), warmDays)
    if (bad.nonEmpty) sys.error(s"warm-up days failed their check: ${bad.mkString(", ")}")
  }

  def round(spark: SparkSession, meter: Meter, trace: Trace, index: Int,
            traced: Boolean): Main.Round = {
    val ops: Seq[Seq[String]] = roundDays(index).zipWithIndex.flatMap { case (ds, i) =>
      if (i % relandEvery == relandEvery - 1) Seq(Seq(ds), Seq(ds)) else Seq(Seq(ds))
    }
    var wall, cpu = 0.0
    val results = ops.zipWithIndex.map { case (ds, i) =>
      CovidInputs.resetFetchStats()
      val m0 = meter.snapshot()
      val t0 = System.nanoTime()
      val ok = try {
        if (traced) trace.span(s"r$index.$i", "pipeline.run_range")(land(spark, ds, lake))
        else land(spark, ds, lake)
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] landing ${ds.head}..${ds.last} failed: $e")
          false
      }
      val s = (System.nanoTime() - t0) / 1e9
      val m1 = meter.snapshot()
      wall += s
      cpu += (m1 - m0).cpuS
      if (traced) {
        val (calls, distinct) = CovidInputs.fetchStats()
        fetchCalls += calls
        fetchDistinct += distinct
        tracedDays += ds.size
        totals.add(meter, m0, m1)
      }
      landed ++= ds
      ok
    }
    // checked once the round's calls are done, outside their timing; a
    // re-landed day is checked in its final state
    val bad = failedDays(spark.read.parquet(lake), ops.flatten.distinct)
    val failed = ops.zip(results).count { case (ds, ok) => !ok || ds.exists(bad) }
    Main.Round(wall, cpu, ops.size, failed)
  }

  private def partitions(path: String): Seq[Path] = {
    val p = java.nio.file.Paths.get(path)
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala.filter(d =>
      Files.isDirectory(d) && d.getFileName.toString.startsWith("day_of_data=")).toSeq
  }

  private def dataFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala
      .filter(f => f.getFileName.toString.startsWith("part-")).toSeq

  /** The lake holds exactly the landed days, and no more rows than one
    * landing of each. */
  def finalCheck(spark: SparkSession): Int = {
    val onDisk = partitions(lake).map(_.getFileName.toString.stripPrefix("day_of_data=")).toSet
    val rows = spark.read.parquet(lake).count()
    val ok = onDisk == landed.toSet && rows == expectedRows * landed.size
    if (!ok) System.err.println(s"[perfbench] lake check failed: ${onDisk.size} partitions " +
      s"for ${landed.size} landed days, $rows rows")
    if (ok) 0 else 1
  }

  /** Replays `CovidPipeline.run`'s stage order on a few extra days into a
    * lake of its own, forcing each stage with its own action under a span,
    * then reads the day back. The stage spans are children of the day's
    * span; what they do not cover (plan construction between them) is the
    * pipeline's self time. */
  private def replay(spark: SparkSession, trace: Trace): Unit =
    replayDays.foreach { ds =>
      val op = s"replay.$ds"
      val stage = stageFor(spark)(ds)
      trace.count("ops.flatten_rows_in", CovidOps.parseAndExplode(
        CovidOps.extractDataArray(CovidOps.forDate(ds)(stage))).count())
      // an action that reads every column, so no stage is pruned away
      def materialize(df: DataFrame): Long =
        df.select(xxhash64(df.columns.map(col): _*).as("h"))
          .agg(count(lit(1)), bit_xor(col("h"))).head().getLong(0)
      trace.span(op, "pipeline.day") {
        trace.span(op, "sources.stage_scan") {
          stage.agg(count(lit(1)), sum(length(col("json_data")))).head()
        }
        val flat = CovidOps.flatten(stage, ds)
        trace.count("ops.flatten_rows_out", trace.span(op, "ops.flatten")(materialize(flat)))
        trace.span(op, "quality.gate")(Quality.countGate(flat, expectedRows, 0.02))
        val regions = Dims.regionDim(flat)
        trace.span(op, "ops.region_dim") {
          regions.agg(count(lit(1)), sum(col("region_key"))).head()
        }
        val fact = Mart.factCovid(Mart.withSurrogateKeys(flat, regions))
        trace.span(op, "ops.fact")(materialize(fact))
        val out = fact.withColumn("day_of_data", lit(ds).cast("date"))
        trace.span(op, "sources.write")(Sinks.overwriteDatePartition(out, replayLake))
      }
      val files = dataFiles(java.nio.file.Paths.get(replayLake, s"day_of_data=$ds"))
      trace.count("sources.files_written", files.size)
      trace.count("sources.bytes_written", files.map(Files.size).sum)
      val bad = trace.span(op, "sources.readback")(
        failedDays(Sinks.readDatePartition(spark, replayLake, ds), Seq(ds)))
      if (bad.nonEmpty) sys.error(s"replayed day $ds failed its check")
    }

  def layers(spark: SparkSession, trace: Trace): Seq[(String, Double, String)] = {
    replay(spark, trace)
    val perDay = 1.0 / tracedDays
    val n = replayDays.size.toDouble
    val parts = partitions(lake)
    val files = parts.flatMap(dataFiles)
    val values = Map(
      "sources.fetch_calls_per_day" -> fetchCalls * perDay,
      "sources.fetch_useful_ratio" -> fetchDistinct.toDouble / fetchCalls,
      "sources.stage_scan_s" -> trace.meanSeconds("sources.stage_scan"),
      "ops.flatten_s" -> trace.meanSeconds("ops.flatten"),
      "ops.flatten_rows_in" -> trace.counts("ops.flatten_rows_in") / n,
      "ops.flatten_rows_out" -> trace.counts("ops.flatten_rows_out") / n,
      "quality.gate_s" -> trace.meanSeconds("quality.gate"),
      "ops.region_dim_s" -> trace.meanSeconds("ops.region_dim"),
      "ops.fact_s" -> trace.meanSeconds("ops.fact"),
      "sources.write_s" -> trace.meanSeconds("sources.write"),
      "sources.bytes_written" -> trace.counts("sources.bytes_written") / n,
      "sources.files_written" -> trace.counts("sources.files_written") / n,
      "sources.readback_s" -> trace.meanSeconds("sources.readback"),
      "pipeline.self_s" -> trace.meanSelfSeconds("pipeline.day"),
      "sources.lake_bytes_per_row" ->
        files.map(Files.size).sum.toDouble / (expectedRows * parts.size),
      "sources.lake_files_per_day" -> files.size.toDouble / parts.size)
    Etl.layerUnits.map { case (k, u) => (k, values(k), u) } ++
      totals.metrics(tracedDays) ++ QueryMix.emptyLayers(mix)
  }
}

object Etl {
  /** Landings before the first timed one. In probes of 64 and 52 landings
    * the median landing time per block of 8 fell from 1.1-1.2 s in the
    * first block to 0.6-0.7 s by the fifth, and after the 40th landing it
    * moved by less than the run-to-run noise. */
  val WarmUpDays = 40

  /** The ETL layers' metrics and their units. */
  val layerUnits: Seq[(String, String)] = Seq(
    "sources.fetch_calls_per_day" -> "count", "sources.fetch_useful_ratio" -> "ratio",
    "sources.stage_scan_s" -> "s", "ops.flatten_s" -> "s",
    "ops.flatten_rows_in" -> "count", "ops.flatten_rows_out" -> "count",
    "quality.gate_s" -> "s", "ops.region_dim_s" -> "s", "ops.fact_s" -> "s",
    "sources.write_s" -> "s", "sources.bytes_written" -> "bytes",
    "sources.files_written" -> "count", "sources.readback_s" -> "s",
    "pipeline.self_s" -> "s", "sources.lake_bytes_per_row" -> "bytes",
    "sources.lake_files_per_day" -> "count")

  /** The ETL layers as a workload that does not run them reports them. */
  val emptyLayers: Seq[(String, Double, String)] =
    layerUnits.map { case (k, u) => (k, 0.0, u) }
}
