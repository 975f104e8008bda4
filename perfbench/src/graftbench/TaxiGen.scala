package graftbench

import java.io.{BufferedWriter, FileWriter}
import java.time.{LocalDateTime, ZoneId, ZoneOffset}
import java.util.SplittableRandom

/** Seeded green-taxi CSV generator in the reference's raw shape
  * (FIXTURES.md §1a), plus the facts the pipeline must reproduce from it.
  *
  * The CSV has the exact 20-name header, a blank and a whitespace-only
  * line after it, rows with exactly 20 fields and rows with two trailing
  * empty fields, Y/N/empty `Store_and_fwd_flag`, always-empty
  * `Ehail_fee`, mostly-empty `Trip_type`, a share of pickups or dropoffs
  * inside the JFK box, a few negative durations and the
  * binary-unrepresentable longitude `-73.952407836914062`.
  *
  * The facts are computed here, independently of Spark: naive pickup
  * times are read as America/New_York wall clock and bucketed by UTC
  * hour and UTC day of week, with day-of-week encoded both the
  * reference's buggy way (`dayofweek == d` for d in 0..6, 1 = Sunday) and
  * the corrected way (`(dayofweek - 1) mod 7`). */
object TaxiGen {
  val Header: String = Seq(
    "VendorID", "lpep_pickup_datetime", "Lpep_dropoff_datetime",
    "Store_and_fwd_flag", "RateCodeID", "Pickup_longitude", "Pickup_latitude",
    "Dropoff_longitude", "Dropoff_latitude", "Passenger_count",
    "Trip_distance", "Fare_amount", "Extra", "MTA_tax", "Tip_amount",
    "Tolls_amount", "Ehail_fee", "Total_amount", "Payment_type",
    "Trip_type").mkString(",")

  val OddLongitude = "-73.952407836914062"

  /** What the pipeline's outputs must show for one generated CSV. */
  final case class Facts(
      rows: Long,
      hourSums: Array[Long],
      dowBug: Array[Long],
      dowFixed: Array[Long],
      jfkRows: Long,
      negDurations: Long,
      minDuration: Long,
      maxDuration: Long,
      oddLongitudeRows: Long,
      nullFlags: Long,
      nullTripType: Long) {
    /** Null count per 01.parquet column; columns not named are never null. */
    def nullCounts: Map[String, Long] = Map(
      "Store_and_fwd_flag" -> nullFlags,
      "Ehail_fee" -> rows,
      "Trip_type" -> nullTripType).withDefaultValue(0L)

    def toJson: String = {
      def arr(a: Array[Long]) = a.mkString("[", ",", "]")
      s"""{"rows":$rows,"hour_sums":${arr(hourSums)},"dow_bug_sums":${arr(dowBug)},""" +
        s""""dow_fixed_sums":${arr(dowFixed)},"jfk_rows":$jfkRows,""" +
        s""""neg_durations":$negDurations,"min_duration":$minDuration,""" +
        s""""max_duration":$maxDuration,"odd_longitude_rows":$oddLongitudeRows,""" +
        s""""null_counts":{"Store_and_fwd_flag":$nullFlags,"Ehail_fee":$rows,""" +
        s""""Trip_type":$nullTripType}}"""
    }
  }

  private val Ny = ZoneId.of("America/New_York")
  private val Start = LocalDateTime.of(2013, 9, 1, 0, 0, 0)
  // Pickup-hour weights (local clock), evening-heavy like the reference month.
  private val HourWeights = Array(
    5, 4, 3, 2, 2, 1, 2, 3, 4, 4, 4, 4, 5, 5, 6, 7, 7, 8, 9, 9, 8, 7, 6, 5)
  private val HourCdf = HourWeights.scanLeft(0)(_ + _).tail
  // JFK box (graft.features.Features); generated points sit well inside it.
  private val JfkLon = (-73.794694, -73.776283)
  private val JfkLat = (40.640668, 40.651381)

  private def coord(v: Double): String = f"${v.toFloat.toDouble}%.15f"

  private def two(sb: java.lang.StringBuilder, v: Int): java.lang.StringBuilder =
    sb.append((v / 10 + '0').toChar).append((v % 10 + '0').toChar)

  /** `yyyy-MM-dd HH:mm:ss`, the source's naive timestamp format. */
  private def timestamp(sb: java.lang.StringBuilder, t: LocalDateTime): java.lang.StringBuilder = {
    sb.append(t.getYear).append('-')
    two(sb, t.getMonthValue).append('-')
    two(sb, t.getDayOfMonth).append(' ')
    two(sb, t.getHour).append(':')
    two(sb, t.getMinute).append(':')
    two(sb, t.getSecond)
  }

  private def money(cents: Long): String =
    s"${cents / 100}.${(cents % 100 / 10 + '0').toChar}${(cents % 10 + '0').toChar}"

  /** Writes `rows` data rows to `path` and returns their facts. When
    * `malformedAt` is set, that data row is cut to fewer than 20 fields. */
  def write(path: String, rows: Int, seed: Long, malformedAt: Int = -1): Facts = {
    val rnd = new SplittableRandom(seed)
    val hourSums = new Array[Long](24)
    val dowBug = new Array[Long](7)
    val dowFixed = new Array[Long](7)
    var jfk, neg, odd, nullFlags, nullTrip = 0L
    var minDur = Long.MaxValue
    var maxDur = Long.MinValue
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    try {
      w.write(Header); w.write("\n\n   \n")
      val sb = new java.lang.StringBuilder(256)
      var i = 0
      while (i < rows) {
        sb.setLength(0)
        val day = rnd.nextInt(30)
        val pick = rnd.nextInt(HourCdf.last)
        val localHour = HourCdf.indexWhere(pick < _)
        val pickup = Start.plusDays(day).plusHours(localHour)
          .plusMinutes(rnd.nextInt(60)).plusSeconds(rnd.nextInt(60))
        val duration: Long =
          if (rnd.nextInt(20000) == 0) -(1 + rnd.nextInt(86000)).toLong
          else if (rnd.nextInt(5000) == 0) 80000L + rnd.nextInt(6000)
          else 60L + rnd.nextInt(3000)
        val dropoff = pickup.plusSeconds(duration)
        val utc = pickup.atZone(Ny).withZoneSameInstant(ZoneOffset.UTC)
        val durUtc = dropoff.atZone(Ny).toEpochSecond - pickup.atZone(Ny).toEpochSecond
        hourSums(utc.getHour) += 1
        val sparkDow = utc.getDayOfWeek.getValue % 7 + 1 // 1 = Sunday .. 7 = Saturday
        if (sparkDow <= 6) dowBug(sparkDow) += 1
        dowFixed(sparkDow - 1) += 1
        if (durUtc < 0) neg += 1
        minDur = math.min(minDur, durUtc)
        maxDur = math.max(maxDur, durUtc)

        val jfkSide = rnd.nextInt(100) // 0: pickup at JFK, 1: dropoff at JFK
        def point(atJfk: Boolean): (Double, Double) =
          if (atJfk) (JfkLon._1 + 0.002 + rnd.nextDouble() * 0.014,
            JfkLat._1 + 0.002 + rnd.nextDouble() * 0.007)
          else (-74.02 + rnd.nextDouble() * 0.2, 40.70 + rnd.nextDouble() * 0.15)
        val (pLon, pLat) = point(jfkSide == 0)
        val (dLon, dLat) = point(jfkSide == 1)
        if (jfkSide <= 1) jfk += 1
        val oddLon = i % 997 == 5 && jfkSide != 0
        if (oddLon) odd += 1

        val flag = rnd.nextInt(1000) match {
          case 0 | 1 | 2 => "Y"
          case 3 => nullFlags += 1; ""
          case _ => "N"
        }
        val tripType = if (rnd.nextInt(5000) == 0) "1" else { nullTrip += 1; "" }
        val distCents = rnd.nextInt(2000).toLong
        val fare = 250L + distCents * 250 / 100
        val extra = Array(0L, 50L, 100L)(rnd.nextInt(3))
        val tip = if (rnd.nextBoolean()) rnd.nextInt(1000).toLong else 0L
        val tolls = if (rnd.nextInt(50) == 0) 533L else 0L
        val total = fare + extra + 50 + tip + tolls

        sb.append(if (rnd.nextInt(9) == 0) '1' else '2').append(',')
        timestamp(sb, pickup).append(',')
        timestamp(sb, dropoff).append(',')
          .append(flag).append(',')
          .append(if (rnd.nextInt(50) == 0) 5 else 1).append(',')
          .append(if (oddLon) OddLongitude else coord(pLon)).append(',')
          .append(coord(pLat)).append(',')
          .append(coord(dLon)).append(',')
          .append(coord(dLat)).append(',')
          .append(1 + rnd.nextInt(6)).append(',')
          .append(money(distCents)).append(',')
          .append(money(fare)).append(',')
          .append(money(extra)).append(',')
          .append("0.5,")
          .append(money(tip)).append(',')
          .append(money(tolls)).append(',')
          .append(',') // Ehail_fee: always empty
          .append(money(total)).append(',')
          .append(1 + rnd.nextInt(4)).append(',')
          .append(tripType)
        if (i % 10 != 3) sb.append(",,") // most rows carry two empty trailers
        if (i == malformedAt) {
          val cut = sb.toString.split(",", -1).take(12).mkString(",")
          sb.setLength(0); sb.append(cut)
        }
        sb.append('\n')
        w.write(sb.toString)
        i += 1
      }
    } finally w.close()
    Facts(rows, hourSums, dowBug, dowFixed, jfk, neg, minDur, maxDur, odd,
      nullFlags, nullTrip)
  }
}
