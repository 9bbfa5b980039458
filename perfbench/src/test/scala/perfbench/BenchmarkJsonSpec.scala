package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `BENCHMARK.json` declares exactly the metrics the harness reports. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val json = Files.readString(Paths.get("..", "BENCHMARK.json"))

  /** Metric names from `section` up to the next top-level key, or to the end. */
  private def names(section: String, next: Option[String]): Seq[String] = {
    val from = json.indexOf(s""""$section"""")
    val body = json.substring(from, next.fold(json.length)(n => json.indexOf(s""""$n"""", from)))
    """"name":\s*"([^"]+)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
  }

  test("end_to_end and per_layer list the reported metrics, in order") {
    assert(names("end_to_end", Some("per_layer")) == Main.EndToEnd.map(_.name))
    assert(names("per_layer", None) == Main.PerLayer.map(_.name))
  }
}
