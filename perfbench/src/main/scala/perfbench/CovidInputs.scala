package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import graft.pipeline.CovidFixture
import graft.sources.CovidPayloadProvider

/** Seeded covid report payloads, generated during set-up.
  *
  * The shape is the fixture's (`CovidFixture.envelope`): per (date, country)
  * a `{"data": [...]}` envelope of `provinces` real reports plus three junk
  * rows (Unknown, Recovered, NULL province) that the pipeline must drop.
  * The seed perturbs every measure and coordinate. The generator also keeps
  * each day's `sum(confirmed)` over the real rows, which the output checks
  * compare against the landed fact partition. */
object CovidInputs {
  val countries: Seq[(String, String)] = CovidFixture.isoCountries

  private val payloads = new ConcurrentHashMap[(String, String), String]
  private val confirmedSums = new ConcurrentHashMap[String, java.lang.Long]

  private val fetchCalls = new AtomicLong
  private val fetched = ConcurrentHashMap.newKeySet[(String, String)]()

  /** splitmix64: a stateless, seedable mix so any value can be regenerated
    * from (seed, day, country, province, field) alone. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def draw(seed: Long, day: Long, ci: Int, i: Int, field: Int, bound: Long): Long = {
    val h = mix(mix(mix(mix(seed) ^ day) ^ (ci.toLong << 32 | i)) ^ field)
    java.lang.Math.floorMod(h, bound)
  }

  /** Generates and stores the payloads of every country for each of `days`. */
  def generate(seed: Long, days: Seq[String], provinces: Int): Unit =
    days.foreach { ds =>
      val day = java.time.LocalDate.parse(ds).toEpochDay
      var sum = 0L
      countries.zipWithIndex.foreach { case ((iso, country), ci) =>
        val sb = new java.lang.StringBuilder(provinces * 380 + 1200)
        sb.append("{\"data\":[")
        def report(province: String, i: Int): Long = {
          val confirmed = 1000L + draw(seed, day, ci, i, 0, 1000000L)
          val deaths = draw(seed, day, ci, i, 1, confirmed / 20 + 1)
          val recovered = draw(seed, day, ci, i, 2, confirmed - deaths + 1)
          val active = confirmed - deaths - recovered
          sb.append("{\"date\":\"").append(ds)
            .append("\",\"active\":").append(active)
            .append(",\"deaths\":").append(deaths)
            .append(",\"confirmed\":").append(confirmed)
            .append(",\"recovered\":").append(recovered)
            .append(",\"active_diff\":").append(draw(seed, day, ci, i, 3, 500L))
            .append(",\"deaths_diff\":").append(draw(seed, day, ci, i, 4, 50L))
            .append(",\"confirmed_diff\":").append(draw(seed, day, ci, i, 5, 900L))
            .append(",\"recovered_diff\":").append(draw(seed, day, ci, i, 6, 400L))
            .append(",\"last_update\":\"").append(ds).append(" 23:59:59\"")
            .append(",\"fatality_rate\":").append(deaths.toDouble / confirmed)
            .append(",\"region\":{\"iso\":\"").append(iso)
            .append("\",\"lat\":").append(draw(seed, day, ci, i, 7, 180000L) / 1000.0 - 90)
            .append(",\"long\":").append(draw(seed, day, ci, i, 8, 360000L) / 1000.0 - 180)
            .append(",\"name\":\"").append(country)
            .append("\",\"cities\":[\"c").append(i).append("a\",\"c").append(i)
            .append("b\"],\"province\":")
          if (province == null) sb.append("null") else sb.append('"').append(province).append('"')
          sb.append("}},")
          confirmed
        }
        (0 until provinces).foreach(i => sum += report(s"${country}_Prov_$i", i))
        Seq("Unknown", "Recovered", null).zipWithIndex
          .foreach { case (p, j) => report(p, provinces + j) }
        sb.setLength(sb.length - 1)
        sb.append("]}")
        payloads.put((ds, iso), sb.toString)
      }
      confirmedSums.put(ds, sum)
    }

  def expectedConfirmed(ds: String): Long =
    Option(confirmedSums.get(ds)).map(_.longValue)
      .getOrElse(sys.error(s"no generated input for $ds"))

  def payload(ds: String, iso: String): String = {
    fetchCalls.incrementAndGet()
    fetched.add((ds, iso))
    val p = payloads.get((ds, iso))
    if (p == null) sys.error(s"no generated input for ($ds, $iso)")
    p
  }

  /** Fetch calls and distinct (date, country) pairs fetched since the last
    * reset. */
  def fetchStats(): (Long, Long) = (fetchCalls.get, fetched.size.toLong)

  def resetFetchStats(): Unit = {
    fetchCalls.set(0)
    fetched.clear()
  }
}

/** The benchmark's fetch seam: `CovidReportSource` instantiates it on the
  * executor (the same JVM under `local[N]`) once per input partition and
  * calls [[fetch]] for each (date, country) it reads. */
final class SeededPayloadProvider extends CovidPayloadProvider {
  override def fetch(ds: String, iso: String, country: String,
                     countryIdx: Int, provinces: Int): String =
    CovidInputs.payload(ds, iso)
}
