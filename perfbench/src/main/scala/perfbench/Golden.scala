package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.Similarity

/** Expected result fingerprints of the declared queries on the
  * benchmark corpus, one `key<TAB>rows:hash[<TAB>note]` line each. A
  * hash of `*` checks the row count only: those keys' outputs differ in
  * their last floating-point bits between fresh sessions.
  */
final class Golden(expected: Map[String, String]) {
  /** An error message when `fp` is not what `key` should return. */
  def check(key: String, fp: Fingerprint): Option[String] = expected.get(key) match {
    case None => Some(s"$key: no golden fingerprint")
    case Some(want) =>
      val Array(rows, hash) = want.split(":", 2)
      if (fp.rows != rows.toLong) Some(s"$key: ${fp.rows} rows, golden $rows")
      else if (hash != "*" && BigDecimal(hash) != fp.hash) Some(s"$key: fingerprint ${fp.text}, golden $want")
      else None
  }
}

object Golden {
  def load(path: Path): Golden = new Golden(
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> f(1) }.toMap)

  /** Fingerprint `keys` in two fresh sessions and write the golden file;
    * a key whose two fingerprints differ is recorded as count-only.
    */
  def record(spark: SparkSession, dataDir: String, keys: Seq[String], path: Path): Unit = {
    def once(): Map[String, Fingerprint] = {
      val s = spark.newSession()
      try keys.map(k => k -> Fingerprint.of(Fingerprint.plan(SparkEntry.queries(k)(s, dataDir)))).toMap
      finally Similarity.evictStagedSession(s)
    }
    val (a, b) = (once(), once())
    val lines = keys.sorted.map { k =>
      if (a(k) == b(k)) s"$k\t${a(k).text}"
      else {
        require(a(k).rows == b(k).rows, s"$k: row count differs between sessions")
        s"$k\t${a(k).rows}:*\tfingerprint differs between fresh sessions: ${a(k).hash} vs ${b(k).hash}"
      }
    }
    Files.writeString(path, lines.mkString("# key\trows:hash (hash * = row count only)\tnote\n", "\n", "\n"))
  }
}
