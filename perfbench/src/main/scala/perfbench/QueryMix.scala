package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** The analysts' read path: a fixed list of `SparkEntry.queries` over the
  * sf tables, run as one pass per round in a seed-shuffled order. Each
  * query executes its full physical plan through `queryExecution.toRdd`,
  * as `graft.Bench` does; the same job folds an order-independent digest of
  * the result rows, which must equal the committed digest. */
final class QueryMix(o: Main.Opts) extends Main.Workload {
  import QueryMix.modules

  private val mix = QueryMix.load(o.mix)
  val maxRounds = 4

  // traced-pass totals
  private var tracedQueries = 0
  private val totals = new OpTotals
  private var buildS = 0.0
  private val queryWalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def generate(): Unit = {
    val missing = graft.sources.Tables.names
      .map(t => Paths.get(graft.sources.Tables.tablePath(o.sfDir, t)))
      .filterNot(Files.exists(_))
    if (missing.nonEmpty) sys.error(s"missing sf tables: ${missing.mkString(", ")}")
  }

  /** The relational start of `graft.Bench`'s warm-up. Bench also warms the
    * decimal, text, vector and variant paths; here the first query of each
    * of those kinds pays its JIT inside the pass: a warm pass before the
    * measured one would double the run. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.sources.Tables.lineitem(spark, o.sfDir).count()
  }

  def round(spark: SparkSession, meter: Meter, trace: Trace, index: Int,
            traced: Boolean): Main.Round = {
    val order = new scala.util.Random(o.seed * 1000003L + index).shuffle(mix)
    var wall, cpu = 0.0
    var failed = 0
    order.foreach { q =>
      val m0 = meter.snapshot()
      val t0 = System.nanoTime()
      var tb = t0
      def exec(): Option[String] = try {
        val df = SparkEntry.queries(q.name)(spark, o.sfDir)
        tb = System.nanoTime()
        val d = QueryMix.digest(df)
        if (traced) meter.addPhases(df.queryExecution)
        Some(d)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          None
      }
      val got = if (traced) trace.span(s"pass$index", s"query.${q.name}")(exec()) else exec()
      val s = (System.nanoTime() - t0) / 1e9
      val m1 = meter.snapshot()
      wall += s
      cpu += (m1 - m0).cpuS
      System.err.println(f"[perfbench] ${q.name}%-24s $s%7.3f s")
      if (!got.contains(q.digest)) {
        if (got.nonEmpty) System.err.println(
          s"[perfbench] ${q.name} digest ${got.get} != committed ${q.digest}")
        failed += 1
      }
      if (traced) {
        tracedQueries += 1
        buildS += (tb - t0) / 1e9
        totals.add(meter, m0, m1)
        queryWalls.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += s
      }
      // queries that persist or checkpoint intermediates must not leak them
      // into the next measurement; collect their garbage untimed
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    Main.Round(wall, cpu, order.size, failed)
  }

  def finalCheck(spark: SparkSession): Int = 0

  def layers(spark: SparkSession, trace: Trace): Seq[(String, Double, String)] = {
    val passes = queryWalls.values.map(_.size).max.toDouble
    def wallOf(name: String) = queryWalls.get(name).map(_.sum / passes).getOrElse(0.0)
    Etl.emptyLayers ++ totals.metrics(tracedQueries) ++
      Seq(("queries.build_s", buildS / tracedQueries, "s")) ++
      modules.map(m =>
        (s"queries.$m.wall_s", mix.filter(_.module == m).map(q => wallOf(q.name)).sum, "s")) ++
      mix.map(q => (s"query.${q.name}.wall_s", wallOf(q.name), "s"))
  }
}

object QueryMix {
  final case class Query(name: String, module: String, digest: String)

  val modules: Seq[String] = Seq("CoreQueries", "DateTimeQueries", "MediaQueries",
    "SimilarityQueries", "SqlQueries", "TextQueries", "WebQueries")

  /** The query layers as a workload that does not run them reports them. */
  def emptyLayers(mix: Seq[Query]): Seq[(String, Double, String)] =
    (("queries.build_s" +: modules.map(m => s"queries.$m.wall_s")) ++
      mix.map(q => s"query.${q.name}.wall_s")).map(k => (k, 0.0, "s"))

  /** Reads the query list, failing on a name `SparkEntry.queries` lacks or
    * a module outside [[modules]]. */
  def load(path: java.nio.file.Path): Seq[Query] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    val qs = root.get("queries").elements().asScala.map(n =>
      Query(n.get("name").asText, n.get("module").asText, n.get("digest").asText)).toSeq
    val unknown = qs.map(_.name).filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) sys.error(s"unknown queries in $path: ${unknown.mkString(", ")}")
    val badModule = qs.filterNot(q => modules.contains(q.module))
    if (badModule.nonEmpty) sys.error(s"unknown modules in $path: ${badModule.mkString(", ")}")
    if (qs.isEmpty) sys.error(s"no queries in $path")
    qs
  }

  /** Row count and wrapping sum of a 64-bit hash of each row's canonical
    * binary form: equal results give equal digests in any row order. */
  def digest(df: DataFrame): String = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n, h = 0L
      rows.foreach { r =>
        val u = proj(r)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    f"$n:$h%016x"
  }
}

/** Prints `<name> <digest>` for each listed query, in list order: how the
  * committed digests in query_mix.json are made.
  *
  *   perfbench.Digests <query_mix.json> <sf dir> <spark local dir> [verify dir]
  *
  * Given a `graft.Verify` output directory, it digests the result files
  * there instead of running the queries: the results that
  * `scripts/check_oracle.py` compares against the DuckDB oracles. */
object Digests {
  def main(args: Array[String]): Unit = {
    val Seq(mixPath, sf, localDir, verify @ _*) = args.toSeq
    val spark = Main.session(Paths.get(localDir))
    try QueryMix.load(Paths.get(mixPath)).foreach { q =>
      val df = verify.headOption.fold(SparkEntry.queries(q.name)(spark, sf)) { dir =>
        val expected = SparkEntry.queries(q.name)(spark, sf).schema
        spark.read.schema(expected).parquet(s"$dir/${q.name}")
      }
      println(s"${q.name} ${QueryMix.digest(df)}")
      spark.catalog.clearCache()
    } finally spark.stop()
  }
}
