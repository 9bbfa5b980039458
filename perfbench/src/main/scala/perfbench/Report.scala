package perfbench

import perfbench.Main.Metric

/** Turns a finished run's samples into the reported metrics. */
object Report {
  /** End-to-end metrics. Timings use each operation's best latency in
    * the run (it repeats once per pass) and the best pass: on a shared
    * host, interference only ever slows a sample down, and the best of a
    * few samples taken seconds apart is far steadier than their median.
    * Over operations, the geometric mean weighs every key alike and,
    * unlike a percentile of a few dozen values, does not jump from one
    * key to the next.
    */
  def endToEnd(h: Harness): Seq[(Metric, Double)] = {
    val best = h.opLog.groupMapReduce(_._1)(_._2)(math.min).values.toSeq
    val values = Map(
      "setup_s" -> Stats.median(h.setupS.toSeq),
      "pass_s" -> h.passS.min,
      "op_gmean_ms" -> math.exp(best.map(math.log).sum / best.size),
      "heap_live_mb" -> h.heapSamples.min / 1048576.0)
    Main.EndToEnd.map(m => m -> values(m.name))
  }

  /** Per-layer metrics from the traced passes. Counters and layer times
    * are per pass (the mean over traced passes); `.p50` figures are per
    * operation; `serve.*` figures are medians per request; metrics of
    * layers a workload does not exercise read 0.
    */
  def perLayer(h: Harness): Seq[(Metric, Double)] = {
    val t = h.trace
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perPass(pick: String => Boolean) = mean(t.selfUnder("pass", pick))
    val sampled = h.layer.map { case (k, v) => k -> mean(v) }.toMap
    val cpus = h.cpus.toDouble
    val driver = Seq("construct", "analysis", "optimization", "planning", "exec").flatMap { p =>
      val perOp = t.selfUnder("op", _ == s"driver.$p")
      Seq(s"driver.${p}_ms.sum" -> perPass(_ == s"driver.$p"), s"driver.${p}_ms.p50" -> Stats.median(perOp))
    }
    val staging = ColdCuration.Families.map(f => s"staging.build_ms.$f" -> perPass(_ == s"staging.build.$f")) :+
      ("staging.build_ms_total" -> perPass(_.startsWith("staging.build.")))
    val layers = Seq("source.scan", "etl.users", "etl.rides", "etl.upsert", "etl.write")
      .map(n => s"${n}_ms" -> perPass(_ == n))
    val serve = IngestServe.EndpointNames.flatMap(e => Seq("plan", "exec").map { p =>
      s"serve.$e.${p}_ms" -> Stats.median(t.selfEach("pass", s"serve.$e.$p"))
    })
    val overhead = {
      val traced = h.tracedOps.groupMap(_._1)(_._2)
      val ratios = h.untracedOps.groupMap(_._1)(_._2).collect {
        case (k, u) if traced.contains(k) => Stats.median(traced(k).toSeq) / Stats.median(u.toSeq)
      }
      if (ratios.isEmpty) 0.0 else 100 * (Stats.median(ratios.toSeq) - 1)
    }
    val values = sampled ++ driver ++ staging ++ layers ++ serve ++ Map(
      "tables.open_ms" -> Stats.median(t.selfEach("setup", "tables.open")),
      "exec.busy_ratio" -> sampled.getOrElse("exec.busy_ms", 0.0) / (sampled.getOrElse("pass.wall_ms", 1.0) * cpus),
      "trace.overhead_pct" -> overhead)
    Main.PerLayer.map(m => m -> values.getOrElse(m.name, 0.0))
  }
}
