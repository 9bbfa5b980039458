package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

/** Seeded exercise-bike log batches in the Deloton message format, one
  * `bike-NN.jsonl` file per bike per batch, together with the `users`
  * and `rides` rows the ETL must derive from them.
  *
  * The expectation follows the pipeline's stated semantics: a ride is
  * the lines after a "beginning of a new ride" marker; each bike's first
  * and last ride of a batch are trimmed; start time is the ride's first
  * non-marker line; duration is the last `Ride -` sample; averages are
  * over the real samples; a user's first line in a batch wins. Sample
  * values are multiples of 1/4, so every average is exact in binary
  * floating point and the expected rows can be compared bit for bit.
  */
object LogGen {
  final case class User(userId: Long, name: String, gender: String, age: Int, height: Int,
      weight: Int, accountCreatedMs: Long, originalSource: String, postcode: String) {
    def canonical: String =
      Seq(userId, name, gender, age, height, weight, accountCreatedMs * 1000, originalSource, postcode).mkString("|")
  }

  final case class Ride(batch: Int, stream: String, rideId: Long, startMs: Long, duration: Double,
      avgResistance: Double, avgRpm: Double, avgPower: Double, avgHrt: Double, userId: Long) {
    def canonical: String =
      Seq(batch, stream, rideId, startMs * 1000, duration, avgResistance, avgRpm, avgPower, avgHrt, userId)
        .mkString("|")
  }

  final case class Batch(index: Int, files: Seq[(String, Seq[String])], users: Seq[User], rides: Seq[Ride]) {
    def lines: Long = files.map(_._2.size.toLong).sum
  }

  /** Row count and an order-insensitive checksum of canonical row strings. */
  final case class Checksum(rows: Long, sum: Long)

  def checksum(canonical: Iterable[String]): Checksum =
    Checksum(canonical.size.toLong, canonical.foldLeft(0L)((acc, s) => acc + MurmurHash3.stringHash(s).toLong))

  private val Honorifics = Seq("Mr ", "Ms ", "Dr ", "Mrs ", "Miss ", "")
  private val First = Seq("Wayne", "Jane", "Alex", "Priya", "Tom", "Ola", "Chen", "Maria", "Sam", "Ivy")
  private val Last = Seq("Fitzgerald", "Doe", "Smith", "Patel", "Nowak", "Okafor", "Li", "Garcia")
  private val Streets = Seq("Crane", "Mill", "Rose", "Bank", "Park")
  private val Cities = Seq("London", "Leeds", "York", "Bath")
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
  private val BatchEpochMs = LocalDateTime.of(2024, 1, 1, 6, 0).toInstant(ZoneOffset.UTC).toEpochMilli

  private def tsText(ms: Long): String = TsFormat.format(LocalDateTime.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC))
  private def msg(ms: Long, line: String): String = s"""{"log": "${tsText(ms)} [INFO]: $line"}"""
  private def year(ms: Long): Int = LocalDateTime.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC).getYear

  /** The fixed attributes of a rider; the same id always has the same profile. */
  private final case class Profile(id: Long, honorific: String, name: String, gender: String, dobMs: Long,
      height: Int, weight: Int, acdMs: Long, source: String, address: String, postcode: String)

  private def profile(id: Long): Profile = {
    val r = new SplittableRandom(id * 7919L + 17)
    val postcode = f"AB${r.nextInt(10)} ${r.nextInt(10)}${('A' + r.nextInt(26)).toChar}${('A' + r.nextInt(26)).toChar}"
    Profile(id, Honorifics(r.nextInt(Honorifics.size)), s"${First(r.nextInt(First.size))} ${Last(r.nextInt(Last.size))}",
      if (r.nextBoolean()) "male" else "female", -400000000000L + r.nextLong(1300000000000L),
      150 + r.nextInt(50), 50 + r.nextInt(50), 1600000000000L + r.nextLong(60000000000L),
      if (r.nextBoolean()) "offline" else "online",
      s"${1 + r.nextInt(99)} ${Streets(r.nextInt(Streets.size))} Street,${Cities(r.nextInt(Cities.size))},$postcode",
      postcode)
  }

  /** `n` batches of `bikes` files, `ridesPerBike` rides each, riders drawn from a pool of `riders` ids. */
  def batches(seed: Long, n: Int, bikes: Int, ridesPerBike: Int, riders: Int): Seq[Batch] = {
    val rnd = new SplittableRandom(seed)
    (0 until n).map { b =>
      val r = rnd.split()
      val perBike = (0 until bikes).map { k =>
        val stream = f"bike-$k%02d"
        val lines = Seq.newBuilder[String]
        val rides = Seq.newBuilder[Ride]
        val userLines = Seq.newBuilder[(Long, Profile)]
        // bikes are staggered by k ms so no two lines of a batch share a timestamp
        var t = BatchEpochMs + b * 86400000L + k
        for (ride <- 1 to ridesPerBike) {
          val p = profile(r.nextInt(riders).toLong)
          lines += msg(t, "--------- beginning of a new ride"); t += 1000
          val start = t
          lines += msg(t, "Getting user data from server"); t += 500
          lines += msg(t, s"data = {'user_id': ${p.id}, 'name': '${p.honorific}${p.name}', 'gender': '${p.gender}', " +
            s"'address': '${p.address}', 'date_of_birth': ${p.dobMs}, 'email_address': 'rider${p.id}@example.com', " +
            s"'height_cm': ${p.height}, 'weight_kg': ${p.weight}, 'account_create_date': ${p.acdMs}, " +
            s"'bike_serial': 'SN${1000 + k}', 'original_source': '${p.source}'}")
          userLines += ((t, p))
          t += 500
          val samples = 2 + r.nextInt(5)
          var duration = 0.0
          val res = Seq.newBuilder[Int]; val rpm = Seq.newBuilder[Int]; val pow = Seq.newBuilder[Double]
          val hrt = Seq.newBuilder[Int]
          for (_ <- 1 to samples) {
            duration += 0.5 * (1 + r.nextInt(4))
            val rs = 10 * (1 + r.nextInt(9))
            lines += msg(t, s"Ride - duration = $duration; resistance = $rs"); t += 500
            res += rs
            val (h, m, w) = (60 + r.nextInt(100), 20 + r.nextInt(80), 0.25 * r.nextInt(400))
            lines += msg(t, s"Telemetry - hrt = $h; rpm = $m; power = $w"); t += 500
            hrt += h; rpm += m; pow += w
          }
          def avg(xs: Seq[Double]) = xs.sum / xs.size
          if (ride > 1 && ride < ridesPerBike)
            rides += Ride(b, stream, ride, start, duration, avg(res.result().map(_.toDouble)),
              avg(rpm.result().map(_.toDouble)), avg(pow.result()), avg(hrt.result().map(_.toDouble)), p.id)
          t += 60000
        }
        (stream, lines.result(), rides.result(), userLines.result())
      }
      val userLines = perBike.flatMap(_._4)
      val anchorYear = year(userLines.map(_._1).max)
      val users = userLines.sortBy(_._1).distinctBy(_._2.id).map { case (_, p) =>
        User(p.id, p.name, p.gender, anchorYear - year(p.dobMs), p.height, p.weight, p.acdMs, p.source, p.postcode)
      }
      Batch(b, perBike.map(x => (x._1, x._2)), users, perBike.flatMap(_._3))
    }
  }

  /** Write one batch as `dir/bike-NN.jsonl` files. */
  def write(batch: Batch, dir: Path): Unit = {
    Files.createDirectories(dir)
    batch.files.foreach { case (stream, lines) =>
      Files.write(dir.resolve(s"$stream.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }
}
