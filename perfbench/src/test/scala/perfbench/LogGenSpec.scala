package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.DelotonPipeline

/** The bike-log generator is reproducible, and the engine's ETL turns
  * its logs into exactly the rows the generator expects.
  */
class LogGenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  private val tmp = Files.createTempDirectory("loggen")

  override def afterAll(): Unit = {
    spark.stop()
    Io.deleteTree(tmp)
  }

  private def written(seed: Long, dir: String): Map[String, Seq[Byte]] = {
    val root = tmp.resolve(dir)
    LogGen.batches(seed, 3, 4, 6, 20).foreach(b => LogGen.write(b, root.resolve(s"b${b.index}")))
    def files(p: Path): Seq[Path] = if (Files.isDirectory(p)) Io.list(p).flatMap(files) else Seq(p)
    files(root).map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
  }

  test("the same seed writes byte-identical logs; another seed does not") {
    val a = written(7, "a")
    assert(a.nonEmpty && a == written(7, "b"))
    assert(a != written(8, "c"))
  }

  test("users and rides from the ETL equal the generator's expectation, batch by batch") {
    val batches = LogGen.batches(11, 3, 4, 6, 10)
    var seen = Set.empty[Long]
    for (b <- batches) {
      val dir = tmp.resolve(s"etl-${b.index}")
      LogGen.write(b, dir)
      val raw = DelotonPipeline.readLogs(spark, dir.toString)
      assert(raw.count() == b.lines)
      assert(LogGen.checksum(IngestServe.canonicalUsers(DelotonPipeline.users(raw))) ==
        LogGen.checksum(b.users.map(_.canonical)))
      assert(LogGen.checksum(IngestServe.canonicalRides(IngestServe.rideRows(DelotonPipeline.rides(raw), b.index))) ==
        LogGen.checksum(b.rides.map(_.canonical)))
      assert(b.rides.nonEmpty && b.rides.forall(r => r.rideId > 1 && r.rideId < 6))
      seen ++= b.users.map(_.userId)
    }
    // riders repeat across batches, so the upsert has existing keys to skip
    assert(seen.size < batches.map(_.users.size).sum)
  }
}
