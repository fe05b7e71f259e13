package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** An incoming similarity query on the serving stream. */
case class QueryVec(query_id: Long, timestamp: Long, embedding: Array[Float])

/** One incoming corpus vector on the index-maintenance stream. */
case class VecEvent(vec_id: Long, timestamp: Long, embedding: Array[Float])

/** Real-time vector-search serving — the ONLINE consumer of the staged
  * IVF-PQ index (the shape a retrieval endpoint runs: queries arrive as a
  * stream, the index is a versioned on-disk artifact).
  *
  * Each micro-batch of queries is served by the BATCH serve plan of its
  * tier (`SimilarityQueries.pqServeFixed` / `pqServeScaled` /
  * `pqServeWide`) against the fingerprinted staged index, through ONE
  * per-batch sink loop ([[runServe]]) — the
  * standard Structured Streaming pattern when per-batch logic needs
  * operators a continuous plan can't host (the per-query rank window).
  * This is deliberately NOT a stateful stream: serving holds no state at
  * all — the index is the state, adopted once per process by the
  * StagedTable memo and validated by fingerprint, so an index rebuild is
  * a corpus-version event, never a serving-job restart.
  *
  * Scale shape per batch: query routing against the k-row centroid
  * table, a |Q|·M·k LUT, and ONE probed cell's 8-byte codes — the
  * corpus appears only as codes, never as vectors.
  */
object StreamingAnnServe {

  /** Start serving `queries` against the staged index for `corpusDir`;
    * each micro-batch's results — (query_id, neighbor_id, adist), top-k
    * per query — are handed to `sink`.
    *
    * `deltaDir` adds FRESHNESS: each batch answers from the staged index
    * UNION the delta directory [[annIndexStream]] appends to, so a vector
    * ingested seconds ago is searchable before the next index build. The
    * delta read goes through the sink directory's `_spark_metadata`
    * commit log (a batch read over a file-sink path honors it), so an
    * uncommitted in-flight file never serves; fresh members of the probed
    * cell score by exact quantized L2 in the same units as the base's ADC
    * sums (`SimilarityQueries.adcServe`). `Publish.compact`-then-rebuild
    * retires the delta; an absent/empty delta dir serves base-only. */
  def serve(queries: Dataset[QueryVec], corpusDir: String,
      deltaDir: Option[String] = None,
      trigger: Option[Trigger] = None,
      checkpoint: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery =
    runServe(queries, deltaDir, trigger, checkpoint, sink) { (s, q, delta) =>
      val (cb, codes, ccent) = SimilarityQueries.indexFrames(
        s.table(SimilarityQueries.stagePqIndex(s, corpusDir)))
      SimilarityQueries.pqServeFixed(s, corpusDir, cb, codes, ccent, q,
        selfExclude = false, delta = delta)
    }

  /** [[serve]] against the SCALED staged index: each query batch routes
    * through the layered rule and ranks the probed k ∝ N cell
    * (`pqServeScaled`); `deltaDir` is [[annIndexStreamScaled]]'s
    * cell-partitioned delta, same freshness contract as [[serve]]. */
  def serveScaled(queries: Dataset[QueryVec], corpusDir: String,
      deltaDir: Option[String] = None,
      trigger: Option[Trigger] = None,
      checkpoint: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery =
    runServe(queries, deltaDir, trigger, checkpoint, sink) { (s, q, delta) =>
      val (cb, codes, members, sseeds, pf, pg) = SimilarityQueries.scaledIndexFrames(
        s.table(SimilarityQueries.stagePqIndexScaled(s, corpusDir)))
      SimilarityQueries.pqServeScaled(cb, codes, members, sseeds, pf, pg, q,
        selfExclude = false, delta = delta)
    }

  /** [[serveScaled]] at the WIDE RE-RANK recall tier (VERDICT r8 #4): each
    * query batch probes its top-nprobe fine cells through the graph's
    * multiprobe router, pools their members by ADC, and exact-re-ranks the
    * top-C shortlist against the true quantized corpus vectors
    * (`pqServeWide`). Recall is the probed-cell-coverage number the graph
    * audit measures instead of one cell's; the extra cost per batch is
    * nprobe× the LUT joins plus |Q|·C exact distances and a thin
    * (vec_id, embedding) corpus read for the shortlist join — measured
    * against the single-cell tier in STREAM_RATE_ANN_SCALED. */
  def serveScaledRerank(queries: Dataset[QueryVec], corpusDir: String,
      deltaDir: Option[String] = None,
      trigger: Option[Trigger] = None,
      checkpoint: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery =
    runServe(queries, deltaDir, trigger, checkpoint, sink) { (s, q, delta) =>
      val (cb, codes, members, sseeds, pf, pg) = SimilarityQueries.scaledIndexFrames(
        s.table(SimilarityQueries.stagePqIndexScaled(s, corpusDir)))
      val xqC = graft.core.Tables.embeddings(s, corpusDir)
        .select(col("vec_id"), quantized.as("xq"))
      SimilarityQueries.pqServeWide(cb, codes, members, sseeds, pf, pg, q, xqC,
        selfExclude = false, delta = delta)
    }

  /** `embedding` on the serve index's quantization grid. */
  private def quantized: Column =
    expr(s"vector_quantize(embedding, ${SimilarityQueries.pqScale})")

  /** The one serve loop behind every tier: per micro-batch, quantize the
    * queries, read the delta (if any), and sink what `answer` returns.
    *
    * The empty-delta steady state must not pay a Spark job per micro-batch
    * just to learn the delta is still empty: probe with a driver-side FS
    * listing (a metadata op, no job), and MEMOIZE once non-empty — a delta
    * only grows until compaction retires it, and compaction is a serve
    * restart (new corpus version), so the flag never needs to flip back.
    * A listed-but-uncommitted in-flight file makes the probe true early;
    * the actual read still goes through the `_spark_metadata` commit log,
    * so at worst one batch unions an empty frame (never a wrong result). */
  private def runServe(queries: Dataset[QueryVec], deltaDir: Option[String],
      trigger: Option[Trigger], checkpoint: Option[String], sink: DataFrame => Unit)
      (answer: (SparkSession, DataFrame, Option[DataFrame]) => DataFrame): StreamingQuery = {
    val s = queries.sparkSession
    var deltaSeen = false
    val w0 = queries.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val q = batch.select(col("query_id"), quantized.as("xq"))
        if (!deltaSeen) deltaSeen = deltaDir.exists(dirHasDataFiles(s, _))
        val delta =
          if (!deltaSeen) None // absent/empty delta dir: serve base-only
          else scala.util.Try { // _spark_metadata-aware sink read
            s.read.parquet(deltaDir.get).select(col("vec_id"), col("cell"), quantized.as("xq"))
          }.toOption // a race with the first commit degrades to base-only
        sink(answer(s, q, delta))
      }
    val w1 = trigger.fold(w0)(w0.trigger)
    checkpoint.fold(w1)(c => w1.option("checkpointLocation", c)).start()
  }

  /** Driver-side emptiness probe for a file-sink delta directory: true iff
    * the directory exists and holds at least one non-hidden, non-metadata
    * data file. Pure Hadoop-FS metadata — no Spark job, cluster-correct on
    * any FileSystem (the point: a high-frequency serve trigger must not
    * schedule work per batch in the empty-delta steady state). */
  private[llm] def dirHasDataFiles(s: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) false
    else {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".") && f.getLen > 0 &&
            !f.getPath.toString.contains("/_spark_metadata/")) found = true
      }
      found
    }
  }

  /** Streaming ANN index MAINTENANCE — [[serve]]'s ingest-side complement:
    * new corpus vectors route to their IVF cell against the SAME staged
    * index artifact the serve path reads (the PQ index's coarse-centroid
    * table), then append CELL-PARTITIONED to a delta-index directory
    * through the file sink's commit log — exactly-once to any
    * `_spark_metadata`-aware reader (the Publish machinery;
    * `Publish.compact` folds the delta into the next index build, and
    * serving reads base ∪ delta until then).
    *
    * The routing is a STATELESS row-local projection — no aggregation, no
    * watermark, no state store: the k-row centroid table folds to a
    * ONE-ROW struct array (a no-grouping aggregate — the provably-constant
    * broadcast build), and each vector's cell is a [[routeToCells]]
    * row-local array_min over quantized-L2 distances — the IDENTICAL rule
    * and (dist ASC, label ASC) tie order `pqServeFixed` routes QUERIES
    * with (ADVICE r7: the former cosine-vs-IVF-centroids rule disagreed
    * with the serve router on boundary vectors, leaving a fresh vector in
    * a cell the matching query never probes at nprobe=1). The centroid
    * table is PINNED — the batch-train/stream-serve stance: a re-train is
    * a corpus-version event (new fingerprint) that restarts maintenance,
    * never an in-stream drift. */
  def annIndexStream(vecs: Dataset[VecEvent], corpusDir: String, outDir: String,
      checkpoint: String): DataStreamWriter[Row] = {
    val s = vecs.sparkSession
    val (_, _, ccent) = SimilarityQueries.indexFrames(
      s.table(SimilarityQueries.stagePqIndex(s, corpusDir)))
    cellPartitioned(routeToCells(vecs.toDF(), ccent), outDir, checkpoint)
  }

  /** The delta writer both maintenance streams end in: routed rows append
    * CELL-PARTITIONED to `outDir` through the file sink's commit log. */
  private def cellPartitioned(routed: DataFrame, outDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    routed.writeStream.format("parquet")
      .partitionBy("cell")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)

  /** The routing projection shared by [[annIndexStream]] and its batch
    * parity twin: (vec_id, timestamp, embedding, cell) with `cell` the
    * argmin-quantized-L2 coarse centroid, (dist ASC, label ASC) tie order
    * — `pqServeFixed`' query-routing rule as a row-local expression, so
    * ingest and serve can never disagree on a boundary vector. The k-row
    * `ccent` table (label, carr — the staged PQ index's coarse centroids)
    * folds to one broadcast struct-array row; the per-vector argmin is one
    * array_min over a transform lambda — k-AGNOSTIC (no generated code
    * grows with k, unlike the former greatest() chain). Integer quantized
    * distances need no zero-norm guard — an all-zero hostile vector just
    * scores plain L2 like any other. */
  private[llm] def routeToCells(vecs: DataFrame, ccent: DataFrame): DataFrame = {
    val centsRow = ccent
      .select(struct(col("label").cast("int").as("label"), col("carr")).as("cell"))
      .agg(expr("array_sort(collect_list(cell))").as("cells"))
    vecs
      .withColumn("xq", quantized)
      .crossJoin(broadcast(centsRow)) // 1-row struct-array: constant by construction
      .withColumn("cell", expr(
        "array_min(transform(cells, c -> " +
          "struct(vector_l2q(xq, c.carr) AS d, c.label AS label))).label"))
      .select(col("vec_id"), col("timestamp"), col("embedding"), col("cell"))
  }

  /** [[annIndexStream]] against the SCALED (k ∝ N three-level) staged
    * index — the production maintenance loop (VERDICT r7 #1: the flat
    * router cannot even compile at scaled k; this one is O(k^(1/3)) per
    * vector and k-agnostic in generated code). Routing =
    * [[routeToCellsScaled]], bit-parity with
    * `assignScaled`/`pqServeScaled`. */
  def annIndexStreamScaled(vecs: Dataset[VecEvent], corpusDir: String,
      outDir: String, checkpoint: String): DataStreamWriter[Row] = {
    val s = vecs.sparkSession
    val (_, _, _, sseeds, pf, pg) = SimilarityQueries.scaledIndexFrames(
      s.table(SimilarityQueries.stagePqIndexScaled(s, corpusDir)))
    cellPartitioned(routeToCellsScaled(vecs.toDF(), sseeds, pf, pg), outDir, checkpoint)
  }

  /** THREE-LEVEL routing as a STREAM-SAFE projection — the `assignScaled`
    * rule without its aggregations (append-mode file sinks admit no
    * groupBy): the top-`assignSProbe` super pick is a row-local slice of
    * the sorted ONE-ROW routable-super array (kcc entries, broadcast by
    * construction); those supers' coarse-child arrays attach by
    * `assignSProbe` stream-static LEFT broadcast equi-joins and the
    * top-`assignGProbe` coarse pick ranks ROW-LOCALLY across their union
    * (per-gid child sets are disjoint, so the union has no dup gids); the
    * fine argmin runs over the union of those seeds' child arrays,
    * attached by `assignGProbe` more LEFT equi-joins (missing ranks
    * contribute empty arrays). Same (sd, sid) / (gd, gid) / (dist, cid)
    * tie orders as the batch assignment — a corpus-member vector streamed
    * through here lands in exactly its a2 cell (spec-pinned). O(k^(1/3))
    * work per vector; NOTHING grows with k in the generated code. */
  private[llm] def routeToCellsScaled(vecs: DataFrame, sseeds: DataFrame,
      pf: DataFrame, pg: DataFrame): DataFrame = {
    val sp = SimilarityQueries.assignSProbe
    val gp = SimilarityQueries.assignGProbe
    val routable = sseeds.join(pg.select("sid").distinct(), "sid")
    val ssRow = routable.select(struct(col("sid"), col("sarr")).as("g"))
      .agg(expr("array_sort(collect_list(g))").as("ss"))
    val gkids = pg
      .select(col("sid"), struct(col("gid"), col("garr")).as("k"))
      .groupBy("sid").agg(expr("array_sort(collect_list(k))").as("gkids"))
    val kids = pf
      .select(col("gid"), struct(col("cid"), col("carr")).as("k"))
      .groupBy("gid").agg(expr("array_sort(collect_list(k))").as("kids"))
    val topS = s"slice(array_sort(transform(ss, g -> " +
      s"struct(vector_l2q(xq, g.sarr) AS d, g.sid AS sid))), 1, $sp)"
    val withS = (0 until sp).foldLeft(
      vecs
        .withColumn("xq", quantized)
        .crossJoin(broadcast(ssRow)) // 1-row kcc-entry array: constant by construction
        .withColumn("stop", expr(topS))
        .drop("ss")
        .transform(df => (0 until sp).foldLeft(df) { (d, i) =>
          d.withColumn(s"sid_$i", expr(s"try_element_at(stop, ${i + 1}).sid"))
        })
        .drop("stop")) { (df, i) =>
      df.join(broadcast(gkids.select(col("sid").as(s"sid_$i"),
          col("gkids").as(s"gkids_$i"))), Seq(s"sid_$i"), "left")
    }
    val allG = (0 until sp)
      .map(i => s"coalesce(gkids_$i, array())").mkString("concat(", ", ", ")")
    val topG = s"slice(array_sort(transform($allG, c -> " +
      s"struct(vector_l2q(xq, c.garr) AS d, c.gid AS gid))), 1, $gp)"
    val withG = withS
      .withColumn("gtop", expr(topG))
      .drop((0 until sp).map(i => s"gkids_$i"): _*)
    val joined = (0 until gp).foldLeft(
      (0 until gp).foldLeft(withG) { (df, i) =>
        df.withColumn(s"gid_$i", expr(s"try_element_at(gtop, ${i + 1}).gid"))
      }.drop("gtop")) { (df, i) =>
      df.join(broadcast(kids.select(col("gid").as(s"gid_$i"),
          col("kids").as(s"kids_$i"))), Seq(s"gid_$i"), "left")
    }
    val allKids = (0 until gp)
      .map(i => s"coalesce(kids_$i, array())").mkString("concat(", ", ", ")")
    joined
      .withColumn("cell", expr(
        s"array_min(transform($allKids, c -> " +
          "struct(vector_l2q(xq, c.carr) AS d, c.cid AS cid))).cid").cast("int"))
      .select(col("vec_id"), col("timestamp"), col("embedding"), col("cell"))
  }
}
