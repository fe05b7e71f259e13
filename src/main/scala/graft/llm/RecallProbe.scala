package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recall/cost grid for the SCALED multi-probe kNN graph — the measurement
  * behind the mpSuper/mpCoarse/mpScaledNprobe constants (VERDICT r8 #4):
  * for each (nSuper, nCoarse, nprobe) config, prints mean recall@3 against
  * the sampled exact top-3 (the sim_knn_recall_multiprobe_scaled harness,
  * identical query sample and tie order) and the graph's wall time, so the
  * adopted probe widths are chosen from a curve, not guessed.
  *
  * Usage: runMain graft.llm.RecallProbe <sfDir> [ns:nc:np ...]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val grid: Seq[(Int, Int, Int)] =
      if (args.length > 1) args.drop(1).toSeq.map { a =>
        val p = a.split(":"); (p(0).toInt, p(1).toInt, p(2).toInt)
      }
      else Seq((4, 4, 10), (4, 4, 14), (4, 6, 14), (4, 6, 18), (6, 8, 18), (4, 8, 22))
    val s = graft.core.GraftSession.builder(graft.core.GraftSession.cores, "recall").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    import SimilarityQueries.{querySel, knnK, pqScale}

    // exact top-3 for the sampled queries, computed ONCE and collected —
    // nq×3 pairs, driver-tiny (the audit harness's bt leg)
    val xq = graft.core.Tables.embeddings(s, d)
      .select(col("vec_id"), expr(s"vector_quantize(embedding, $pqScale)").as("xq"))
    val qs = xq.filter(expr(querySel)).select(col("vec_id").as("qid"), col("xq").as("qx"))
    val exact: Set[(Long, Long)] = xq.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(col("qid").as("vec_id"), col("vec_id").as("neighbor_id"),
        expr("vector_l2q(qx, xq)").as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id"))))
      .filter(col("rn") <= knnK)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nq = exact.map(_._1).size
    println(s"[recall] ${exact.size} exact pairs over $nq sampled queries")

    grid.foreach { case (ns, nc, np) =>
      s.catalog.clearCache() // every config pays the fit from cold — comparable times
      val t0 = System.nanoTime()
      val graph = SimilarityQueries.multiprobeKnnScaledDF(s, d, ns, nc, np)
      graph.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // recall join reuses the fit frames the timed build persisted
      val got = graph.filter(expr(querySel)).select("vec_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = exact.count(got.contains).toDouble / exact.size
      println(f"[recall] ns=$ns nc=$nc np=$np recall@$knnK=$recall%.3f graph_sec=$sec%.2f")
    }
    s.catalog.clearCache()
    s.stop()
  }
}
