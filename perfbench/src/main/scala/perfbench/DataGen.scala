package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import graft.Tables

/** The benchmark's own corpus: the ten tables `graft.Tables` reads
  * (TPC-H-ish star schema, a document corpus with ~5% near-duplicates,
  * unit-norm 64-d embeddings and a 30-day event stream), written as one
  * parquet file per table in the layout `Tables` expects.
  *
  * The corpus is a fixed input, generated from [[CorpusSeed]] and never
  * from the run's `--seed`, so the golden result fingerprints of the
  * declared queries stay valid for every run. Sizes follow the 1:10
  * ratios of a TPC-H scale factor of 0.01 (60k lineitems).
  */
object DataGen {
  val CorpusSeed = 42L
  /** Bump when the generator's output changes: cached corpora are keyed by it. */
  val Version = 2

  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
      lineitems: Int, documents: Int, embeddings: Int, events: Int, eventUsers: Int)

  val Default: Sizes = Sizes(customers = 1500, suppliers = 100, parts = 2000, orders = 15000,
    lineitems = 60000, documents = 500, embeddings = 500, events = 10000, eventUsers = 150)

  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
    "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")
  private val Langs = Seq("en" -> 0.44, "zh" -> 0.15, "es" -> 0.14, "de" -> 0.14, "fr" -> 0.13)
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val DayMs = 86400000L

  private def ts(ms: Long) = new Timestamp(ms)
  private def utcMs(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * DayMs
  private def r2(x: Double) = math.round(x * 100) / 100.0
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** Every table as rows, keyed by table name. Pure: same sizes, same rows. */
  def tables(s: Sizes): Seq[(String, StructType, Seq[Row])] = {
    val rnd = new SplittableRandom(CorpusSeed)
    def stream() = rnd.split()

    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))

    val rc = stream()
    val customer = (0 until s.customers).map { i =>
      Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25), r2(rc.nextDouble(0, 10000)), pick(rc, Segments))
    }
    val rs = stream()
    val supplier = (0 until s.suppliers).map { i =>
      Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25), r2(rs.nextDouble(0, 10000)))
    }
    val rp = stream()
    val part = (0 until s.parts).map { i =>
      Row(i.toLong, s"${pick(rp, Adjectives)} ${pick(rp, Nouns)}", s"Brand#${1 + rp.nextInt(25)}",
        pick(rp, PartTypes), 1 + rp.nextInt(50), math.round(9000 + i % 1000) / 10.0)
    }
    val ro = stream()
    val orderEpoch = utcMs(1995, 1, 1)
    val orders = (0 until s.orders).map { i =>
      Row(i.toLong, ro.nextInt(s.customers).toLong, pick(ro, Seq("F", "O", "P")),
        r2(ro.nextDouble(1000, 500000)), ts(orderEpoch + ro.nextInt(2404) * DayMs), pick(ro, Priorities))
    }
    val rl = stream()
    val shipEpoch = utcMs(1995, 1, 2)
    val lineitem = (0 until s.lineitems).map { _ =>
      Row(rl.nextInt(s.orders).toLong, rl.nextInt(s.parts).toLong, rl.nextInt(s.suppliers).toLong,
        1 + rl.nextInt(7), (1 + rl.nextInt(50)).toDouble, r2(rl.nextDouble(900, 100000)),
        rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, pick(rl, Seq("A", "N", "R")),
        pick(rl, Seq("F", "O")), ts(shipEpoch + rl.nextInt(2498) * DayMs))
    }
    val rd = stream()
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val documents = (0 until s.documents).map { i =>
      val text =
        if (i > 0 && rd.nextInt(20) == 0) texts(rd.nextInt(i)) + " dup"
        else Seq.fill(10 + rd.nextInt(90))(pick(rd, Vocab)).mkString(" ")
      texts += text
      val u = rd.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .tail.find(_._2 > u).fold("fr")(_._1)
      Row(i.toLong, text, lang, s"src${rd.nextInt(20)}", text.length.toLong)
    }
    val re = stream()
    val embeddings = (0 until s.embeddings).map { i =>
      val v = Array.fill(64)(re.nextDouble() * 2 - 1 + re.nextDouble() * 2 - 1 + re.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, re.nextInt(10))
    }
    val rv = stream()
    val spanUs = 30L * DayMs * 1000
    var clockUs = utcMs(2024, 1, 1) * 1000
    val events = (0 until s.events).map { i =>
      clockUs += 1 + rv.nextLong(2 * spanUs / s.events)
      val t = new Timestamp(clockUs / 1000)
      t.setNanos(((clockUs % 1000000) * 1000).toInt)
      Row(i.toLong, t, rv.nextInt(s.eventUsers).toLong, pick(rv, EventTypes),
        math.max(0.01, r2(-50 * math.log(1 - rv.nextDouble()))), s"""{"k": ${rv.nextInt(100)}}""")
    }
    Seq(
      ("region", Tables.regionSchema, region), ("nation", Tables.nationSchema, nation),
      ("customer", Tables.customerSchema, customer), ("supplier", Tables.supplierSchema, supplier),
      ("part", Tables.partSchema, part), ("orders", Tables.ordersSchema, orders),
      ("lineitem", Tables.lineitemSchema, lineitem), ("documents", Tables.documentsSchema, documents),
      ("embeddings", Tables.embeddingsSchema, embeddings), ("events", Tables.eventsSchema, events))
  }

  /** Write the corpus under `dir` (one `<table>.parquet` file each),
    * unless a complete copy of this generator version is already there.
    */
  def ensure(spark: SparkSession, dir: Path, s: Sizes = Default): Unit = {
    val stamp = dir.resolve("COMPLETE")
    if (Files.exists(stamp) && Files.readString(stamp).trim == s"v$Version $s") return
    Io.deleteTree(dir)
    Files.createDirectories(dir)
    for ((name, schema, rows) <- tables(s)) {
      val tmp = dir.resolve(s".$name.tmp")
      // timestamps are stored zone-less (parquet isAdjustedToUTC=false), the layout `Tables` reads
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      df.select(df.schema.fields.toSeq.map { f =>
        if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name) else col(f.name)
      }: _*)
        .write.option("compression", "snappy").parquet(tmp.toString)
      val part = Io.list(tmp).find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Io.deleteTree(tmp)
    }
    Files.writeString(stamp, s"v$Version $s\n")
  }
}
