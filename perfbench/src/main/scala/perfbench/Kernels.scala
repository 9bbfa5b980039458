package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.GraftFunctions
import graft.ops.Analytics

/** Cost per input row of each kernel `graft.functions` registers,
  * applied to the corpus documents and embeddings (replicated to
  * [[Rows]] rows and cached, so the scan is not measured). Each kernel
  * runs in one aggregate that consumes every output value; the figure
  * is the median of [[Reps]] timings divided by the row count, so it
  * includes the per-job floor shared by all kernels.
  */
object Kernels {
  val Rows = 200000
  val Reps = 3

  /** SQL name -> expression over the input columns (aggregates as `select` lists over a grouping). */
  private def exprs(bloom: Array[Byte]): Seq[(String, String)] = Seq(
    "sorted_intersect_count" -> "sorted_intersect_count(hs, hs2)",
    "float_vec_dot" -> "float_vec_dot(emb, emb2)",
    "minhash_signature" -> "minhash_signature(hs)",
    "simhash64" -> "simhash64(hs)",
    "shingle_hashes" -> "shingle_hashes(toks, 3)",
    "gram_hashes" -> "gram_hashes(toks, 3)",
    "shingle_stats" -> "shingle_stats(toks, 3)",
    "prefix_intersect_count" -> "prefix_intersect_count(hs, 8, hs2, 8)",
    "bloom_might_contain" -> s"bloom_might_contain(X'${bloom.map(b => f"$b%02X").mkString}', id)",
    "word_ngrams" -> "word_ngrams(toks, 2)",
    "bpe_token_count" -> "bpe_token_count(text, array('th', 'he', 'in'), array('1', '2', '3'))",
    "morton_interleave" -> "morton_interleave(id, n_chars)",
    "top_k_struct" -> "top_k_struct(named_struct('s', n_chars, 'id', id), 5)")

  val Names: Seq[String] = exprs(Array.emptyByteArray).map(_._1)

  def measure(h: Harness): Unit = h.trace.untraced {
    val s = h.spark.newSession()
    GraftFunctions.register(s)
    val docs = Tables.documents(s, h.dataDir)
    val n = docs.count()
    val emb = Tables.embeddings(s, h.dataDir).select(col("vec_id"), col("embedding"))
    val ne = emb.count()
    val input = s.range(0, Rows).toDF("id")
      .join(docs.withColumn("slot", col("doc_id")), col("id") % n === col("slot"))
      .join(emb.withColumnRenamed("embedding", "emb"), col("id") % ne === col("vec_id"))
      .join(emb.select(col("vec_id").as("v2"), col("embedding").as("emb2")), (col("id") + 1) % ne === col("v2"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hs", array_sort(array_distinct(transform(col("toks"), t => xxhash64(t)))))
      .withColumn("hs2", array_sort(array_distinct(transform(slice(reverse(col("toks")), 1, 20), t => xxhash64(t)))))
      .select("id", "text", "n_chars", "toks", "hs", "hs2", "emb", "emb2")
      .persist(StorageLevel.MEMORY_ONLY)
    input.count()
    val bloom = Analytics.bloomOf(docs, "doc_id", 1 << 14, 4)
    for ((name, e) <- exprs(bloom)) {
      val q =
        if (name == "top_k_struct") input.groupBy(col("id") % 1000).agg(expr(e).as("k")).agg(max(xxhash64(col("k"))))
        else input.agg(max(xxhash64(expr(e))))
      val ns = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        q.collect()
        (System.nanoTime() - t0).toDouble
      }
      h.sample(s"kernel.$name.ns_per_row", Stats.median(ns) / Rows)
    }
    input.unpersist(blocking = true)
  }
}
