package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `run.py` once per run:
  *
  *   perfbench.Main --workload <etl_daily|query_mix> --seed <n>
  *                  --seconds <s> --trace <0|1> --work <dir> --sf <dir>
  *                  --mix <query_mix.json>
  *
  * A run sets up (input generation, one session start, the workload's
  * warm-up), then runs measured rounds until `--seconds` have passed,
  * checks every output, and prints one JSON result as its last line. */
object Main {
  /** local[4] with one task retry, shuffle partitions = cpus, AQE broadcast
    * up to 256 MB: the session settings of `graft.Bench`. */
  val Cpus = 4

  final case class Opts(workload: String, seed: Long, seconds: Int, traced: Boolean,
                        work: Path, sfDir: String, mix: Path)

  /** One measured round: its wall time, executor CPU, and operations
    * attempted and failed. */
  final case class Round(wallS: Double, cpuS: Double, attempted: Int, failed: Int)

  trait Workload {
    /** Generates the inputs from the seed; runs once, before the session
      * starts. */
    def generate(): Unit
    /** Warm-up after the session starts, before the first timed
      * operation. */
    def warmUp(spark: SparkSession): Unit
    /** One measured round; a traced round also records spans and per-op
      * counts. */
    def round(spark: SparkSession, meter: Meter, trace: Trace, index: Int,
              traced: Boolean): Round
    /** Upper bound on rounds, so a run ends even on a very fast host. */
    def maxRounds: Int
    /** Whole-run output checks after the last round: failures found. */
    def finalCheck(spark: SparkSession): Int
    /** Per-layer metrics from the traced rounds (and any traced replay). */
    def layers(spark: SparkSession, trace: Trace): Seq[(String, Double, String)]
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val code = try run(opts) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val trace = need("trace")
    if (trace != "0" && trace != "1") usage(s"--trace must be 0 or 1, got $trace")
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      Paths.get(need("work")).toAbsolutePath, need("sf"), Paths.get(need("mix")))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }

  def session(localDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus, 2]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", (256L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(sys.error("VmHWM missing from /proc/self/status"))

  /** Sum over the heap's memory pools of each pool's peak use: the part of
    * the resident set the program's own objects account for. */
  private def peakHeapMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
  }

  /** Heap the program still holds: the least heap in use after each of
    * three full collections (the first can leave objects that reference
    * processing frees only for the next). Unlike the peaks above it does
    * not depend on when the collector ran or how far it grew the heap. */
  private def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        .toDouble / (1 << 20)
    }.min

  def run(o: Opts): Int = {
    Files.createDirectories(o.work)
    val wl: Workload = o.workload match {
      case "etl_daily" => new Etl(o)
      case "query_mix" => new QueryMix(o)
      case w => usage(s"unknown workload $w (etl_daily, query_mix)")
    }
    val hostKey = Seq(
      "cpus" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "master" -> s"local[$Cpus, 2]",
      "sf" -> o.sfDir)

    // set-up runs from JVM start (class loading included) to the first
    // timed operation
    val g0 = System.nanoTime()
    val launchS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    wl.generate()
    val g1 = System.nanoTime()
    val spark = session(o.work.resolve("spark-local"))
    val g2 = System.nanoTime()
    wl.warmUp(spark)
    val g3 = System.nanoTime()
    val setupS = launchS + (g3 - g0) / 1e9
    System.err.println(f"[perfbench] set-up $setupS%.2f s: JVM start to main $launchS%.2f s, " +
      f"generate ${(g1 - g0) / 1e9}%.2f s, session ${(g2 - g1) / 1e9}%.2f s, " +
      f"warm-up ${(g3 - g2) / 1e9}%.2f s")

    val meter = new Meter(spark, o.traced)
    val trace = new Trace
    val rounds = mutable.ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    while (rounds.isEmpty ||
        rounds.size < wl.maxRounds && (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val r = wl.round(spark, meter, trace, rounds.size, o.traced)
      System.err.println(f"[perfbench] round ${rounds.size} wall ${r.wallS}%.3f s " +
        f"cpu ${r.cpuS}%.3f s ops ${r.attempted} failed ${r.failed}")
      rounds += r
    }
    val liveMb = liveHeapMb()
    val finalFailed = wl.finalCheck(spark)
    val attempted = rounds.map(_.attempted).sum
    val failed = math.min(attempted, rounds.map(_.failed).sum + finalFailed)
    if (attempted == 0) sys.error("the workload completed no operation")

    val wallS = median(rounds.map(_.wallS).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!o.traced) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wallS, "s"),
        ("cpu_s", median(rounds.map(_.cpuS).toSeq), "s"),
        ("live_heap_mb", liveMb, "MB"))
      // the tracing overhead is this wall minus an untraced run's wall_s
      else wl.layers(spark, trace) ++ Seq(
        ("jvm.live_heap_mb", liveMb, "MB"),
        ("jvm.peak_heap_mb", peakHeapMb(), "MB"),
        ("jvm.peak_rss_mb", peakRssMb(), "MB"),
        ("trace.wall_s", wallS, "s"))
    meter.close()
    spark.stop()
    if (o.traced) trace.write(o.work.getParent.resolve("traces")
      .resolve(s"${o.workload}-seed${o.seed}.jsonl"))

    val ok = failed == 0
    // host key and failure ratio on a line of their own; the result line,
    // whose keys are fixed, comes last
    println(s"""{"host":{""" + hostKey.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString(",") + s"""},"workload":${Json.str(o.workload)},"seed":${o.seed},""" +
      s""""rounds":${rounds.size},"failed_ratio":${Json.num(failed.toDouble / attempted)}}""")
    println(s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v, u) =>
        s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
      }.mkString(",") + "}}")
    if (ok) 0 else 1
  }
}
