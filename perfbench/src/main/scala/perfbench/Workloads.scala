package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.etl.DelotonPipeline
import graft.ops.Similarity
import graft.serve.Endpoints

/** A benchmark workload: set-up, then measured passes, all through `h`. */
trait Workload {
  def name: String
  def run(h: Harness): Unit
}

object Workload {
  val all: Seq[Workload] = Seq(ColdCuration, IngestServe)
  def named(n: String): Option[Workload] = all.find(_.name == n)

  /** Open every corpus table through `graft.Tables`, as a session's first use does. */
  def openTables(h: Harness, s: SparkSession): Unit = h.trace.span("tables.open") {
    Tables.all.values.foreach(load => load(s, h.dataDir).schema)
  }

  /** Run declared query `key` on `s` and check its fingerprint against the golden one. */
  def query(h: Harness, s: SparkSession, key: String, golden: Golden): Unit = {
    val fn = SparkEntry.queries(key)
    val fp = try Some(h.op(key)(h.fingerprint(fn(s, h.dataDir)))) catch {
      case e: Exception =>
        h.fail(s"$key: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    fp.foreach(f => golden.check(key, f).foreach(h.fail))
  }
}

/** The staging-heavy curation keys once per pass, each pass in a fresh
  * session with an empty staging registry, so the staged families are
  * rebuilt: the cold cost a curation job pays. Untimed passes first
  * bring the JVM (JIT, generated-code cache) to steady state.
  *
  * The keys are the ones a greedy cover picked from a measured cold
  * breakdown of every curation key (each key alone in a fresh session):
  * most newly built staged families per second, within a 4.5 s pass, so
  * that a run holds enough passes. [[Families]] are the families they
  * build. They run in that fixed order, not in seeded order: the first
  * consumer of a staged family pays for its build, so a seeded order
  * would move build costs between keys. The corpus is fixed, so this
  * workload's inputs do not depend on the seed.
  */
object ColdCuration extends Workload {
  val name = "cold_curation"
  val Keys: Seq[String] = Seq("q193_bm25", "q25_minhash_neardup", "q126_containment_neardup", "q105_bpe_tokens")
  val Families: Seq[String] = Seq("bpe_merges", "doc_lengths", "minhash_bands", "query_terms", "shingle_groups",
    "tf_postings", "unigram_groups")

  private def pass(h: Harness, golden: Golden, keys: Seq[String]): Unit = {
    val s = h.spark.newSession()
    try keys.foreach(k => Workload.query(h, s, k, golden))
    finally Similarity.evictStagedSession(s)
  }

  def run(h: Harness): Unit = {
    val golden = h.golden
    for (_ <- 1 to 9) h.setup(Workload.openTables(h, h.spark.newSession()))
    h.warmUp(pass(h, golden, Keys))
    h.passes(_ => pass(h, golden, Keys))
    if (h.trace.enabled) Kernels.measure(h)
  }
}

/** Seeded bike-log batches ingested one after another into accumulated
  * `users`/`rides` parquet tables (read, transform, upsert, append),
  * each followed by seeded API reads of the tables. One pass is one
  * batch; the reads are the measured operations. Untimed batches run
  * before the measured ones. After every batch the tables must equal
  * the generator's expectation and every read must return the rows the
  * expectation implies.
  */
object IngestServe extends Workload {
  val name = "ingest_serve"
  val Batches = 100
  val RidesPerBike = 8
  val Riders = 120
  /** Each batch reads every endpoint this many times, in seeded order. */
  val ReadsPerEndpoint = 2

  final case class Read(endpoint: String, plan: (DataFrame, DataFrame) => DataFrame,
      expect: (Seq[LogGen.User], Seq[LogGen.Ride]) => Long)

  private def day(ms: Long) = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC).toLocalDate

  /** A read of endpoint `which` with seeded parameters, with its expected row count. */
  private def read(which: Int, r: scala.util.Random, users: Seq[LogGen.User], rides: Seq[LogGen.Ride]): Read = {
    val uid = users(r.nextInt(users.size)).userId
    val rid = rides(r.nextInt(rides.size)).rideId
    val gender = if (r.nextBoolean()) "male" else "female"
    val (lo, hi) = { val a = 20 + r.nextInt(60); (a, a + 10) }
    val d = day(rides(r.nextInt(rides.size)).startMs)
    which match {
      case 0 => Read("ride_by_id", (_, rd) => Endpoints.rideById(rd, rid), (_, rs) => rs.count(_.rideId == rid))
      case 1 => Read("all_riders", (u, _) => Endpoints.allRiders(u), (us, _) => us.size)
      case 2 => Read("rider_by_id", (u, _) => Endpoints.riderById(u, uid), (us, _) => us.count(_.userId == uid))
      case 3 => Read("riders_by_gender", (u, _) => Endpoints.ridersByGender(u, gender),
        (us, _) => us.count(_.gender == gender))
      case 4 => Read("riders_by_age", (u, _) => Endpoints.ridersByAge(u, None, Some(lo), Some(hi)),
        (us, _) => us.count(x => x.age >= lo && x.age <= hi))
      case 5 => Read("rides_by_gender", (u, rd) => Endpoints.ridesByGender(u, rd, gender),
        (us, rs) => { val g = us.filter(_.gender == gender).map(_.userId).toSet; rs.count(x => g(x.userId)) })
      case 6 => Read("rides_for_rider", (_, rd) => Endpoints.ridesForRider(rd, uid), (_, rs) => rs.count(_.userId == uid))
      case _ => Read("daily_rides",
        (_, rd) => Endpoints.dailyRides(rd, Some((d.getYear, Some(d.getMonthValue), Some(d.getDayOfMonth)))),
        (_, rs) => rs.count(x => day(x.startMs) == d))
    }
  }

  val EndpointNames: Seq[String] = Seq("ride_by_id", "all_riders", "rider_by_id", "riders_by_gender", "riders_by_age",
    "rides_by_gender", "rides_for_rider", "daily_rides")

  def run(h: Harness): Unit = {
    val root = h.workDir.resolve(s"ingest-${h.seed}")
    Io.deleteTree(root)
    val bikes = math.max(4, h.cpus)
    val batches = LogGen.batches(h.seed, Batches, bikes, RidesPerBike, Riders)
    batches.foreach(b => LogGen.write(b, root.resolve(f"logs/batch-${b.index}%03d")))
    var tables: Path = null
    for (i <- 1 to 5) {
      tables = h.setup {
        val s = h.spark.newSession()
        val dir = root.resolve(s"tables-$i")
        // the API's tables start empty, with the ETL's schemas
        val empty = DelotonPipeline.readLogs(s, root.resolve("logs/batch-000").toString).limit(0)
        DelotonPipeline.users(empty).write.parquet(dir.resolve("users").toString)
        rideRows(DelotonPipeline.rides(empty), 0).write.parquet(dir.resolve("rides").toString)
        dir
      }
    }
    val s = h.spark.newSession()
    var next = 0
    var seenUsers = Map.empty[Long, LogGen.User]
    var seenRides = Vector.empty[LogGen.Ride]
    def ingestOne(): Unit = {
      val b = batches(next % Batches)
      require(next < Batches, s"ingest_serve ran out of its $Batches generated batches")
      next += 1
      ingest(h, s, root.resolve(f"logs/batch-${b.index}%03d"), tables, b)
      b.users.foreach(u => if (!seenUsers.contains(u.userId)) seenUsers += u.userId -> u)
      seenRides ++= b.rides
      h.unmeasured(verify(h, s, tables, seenUsers.values.toSeq, seenRides, b.index))
      val users = s.read.parquet(tables.resolve("users").toString)
      val rides = s.read.parquet(tables.resolve("rides").toString)
      val r = new scala.util.Random(h.seed * 1000 + b.index)
      val expUsers = seenUsers.values.toSeq
      for (e <- r.shuffle(Seq.fill(ReadsPerEndpoint)(EndpointNames.indices).flatten))
        serve(h, users, rides, read(e, r, expUsers, seenRides), expUsers, seenRides)
    }
    h.warmUp(ingestOne())
    h.passes(_ => ingestOne())
  }

  /** The ETL's rides with the batch id, so a ride's key is unique across batches. */
  def rideRows(rides: DataFrame, batch: Int): DataFrame =
    rides.withColumn("batch", lit(batch))
      .withColumn("ride_key", concat_ws(":", col("batch"), col("stream"), col("ride_id")))

  private def ingest(h: Harness, s: SparkSession, logs: Path, tables: Path, b: LogGen.Batch): Unit = {
    val t = h.trace
    val raw = DelotonPipeline.readLogs(s, logs.toString)
    val landing = logs.resolveSibling(logs.getFileName.toString + "-landing")
    Io.deleteTree(landing)
    val lines = t.span("source.scan")(Fingerprint.of(Fingerprint.plan(raw)).rows)
    h.check(lines == b.lines, s"batch ${b.index}: source read $lines lines, generator wrote ${b.lines}")
    if (t.active) {
      h.sample("source.lines", lines.toDouble)
      h.sample("source.partitions", raw.rdd.getNumPartitions.toDouble)
    }
    t.span("etl.users")(DelotonPipeline.users(raw).write.parquet(landing.resolve("users").toString))
    t.span("etl.rides")(rideRows(DelotonPipeline.rides(raw), b.index).write.parquet(landing.resolve("rides").toString))
    val (newUsers, newRides) = t.span("etl.upsert") {
      val u = DelotonPipeline.upsertNew(s.read.parquet(landing.resolve("users").toString),
        s.read.parquet(tables.resolve("users").toString), "user_id")
      val r = DelotonPipeline.upsertNew(s.read.parquet(landing.resolve("rides").toString),
        s.read.parquet(tables.resolve("rides").toString), "ride_key")
      u.queryExecution.executedPlan
      r.queryExecution.executedPlan
      (u, r)
    }
    t.span("etl.write") {
      newUsers.write.mode("append").parquet(tables.resolve("users").toString)
      newRides.select(s.read.parquet(tables.resolve("rides").toString).columns.map(col): _*)
        .write.mode("append").parquet(tables.resolve("rides").toString)
    }
  }

  private def serve(h: Harness, users: DataFrame, rides: DataFrame, r: Read,
      expUsers: Seq[LogGen.User], expRides: Seq[LogGen.Ride]): Unit = {
    val out = h.op(r.endpoint) {
      val df = h.trace.span(s"serve.${r.endpoint}.plan") {
        val df = r.plan(users, rides)
        df.queryExecution.executedPlan
        df
      }
      h.trace.span(s"serve.${r.endpoint}.exec")(Endpoints.toJsonRecords(df))
    }
    val want = r.expect(expUsers, expRides)
    if (out.size != want) h.fail(s"${r.endpoint}: ${out.size} records, expected $want")
  }

  private def micros(t: java.sql.Timestamp): Long = t.getTime / 1000 * 1000000 + t.getNanos / 1000

  /** The `users` rows in [[LogGen.User.canonical]] form. */
  def canonicalUsers(users: DataFrame): Seq[String] = users.collect().toSeq.map { r =>
    Seq(r.getAs[Long]("user_id"), r.getAs[String]("name"), r.getAs[String]("gender"), r.getAs[Int]("age"),
      r.getAs[Int]("height"), r.getAs[Int]("weight"), micros(r.getAs[java.sql.Timestamp]("account_created")),
      r.getAs[String]("original_source"), r.getAs[String]("postcode")).mkString("|")
  }

  /** The accumulated `rides` rows (with their batch) in [[LogGen.Ride.canonical]] form. */
  def canonicalRides(rides: DataFrame): Seq[String] = rides.collect().toSeq.map { r =>
    Seq(r.getAs[Int]("batch"), r.getAs[String]("stream"), r.getAs[Long]("ride_id"),
      micros(r.getAs[java.sql.Timestamp]("start_time")), r.getAs[Double]("duration"),
      r.getAs[Double]("avg_resistance"), r.getAs[Double]("avg_rpm"), r.getAs[Double]("avg_power"),
      r.getAs[Double]("avg_hrt"), r.getAs[Long]("user_id")).mkString("|")
  }

  private def verify(h: Harness, s: SparkSession, tables: Path, users: Seq[LogGen.User],
      rides: Seq[LogGen.Ride], batch: Int): Unit = {
    val gotUsers = LogGen.checksum(canonicalUsers(s.read.parquet(tables.resolve("users").toString)))
    val gotRides = LogGen.checksum(canonicalRides(s.read.parquet(tables.resolve("rides").toString)))
    val (wantUsers, wantRides) = (LogGen.checksum(users.map(_.canonical)), LogGen.checksum(rides.map(_.canonical)))
    h.check(gotUsers == wantUsers, s"batch $batch: users table $gotUsers, generator expects $wantUsers")
    h.check(gotRides == wantRides, s"batch $batch: rides table $gotRides, generator expects $wantRides")
  }
}
