package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.batch.Q
import graft.core.Tables
import LlmHash._

/** Document deduplication for LLM training-data pipelines — no reference
  * counterpart (SURVEY.md §7.2 step 8 north-star work).
  *
  * Four operators over `documents.parquet`, all oracle-gated:
  *   - `dd_exact`        exact dedup by content hash (hash-shuffle groupBy)
  *   - `dd_minhash_lsh`  MinHash signatures + banded LSH candidate pairs
  *   - `dd_jaccard`      exact shingle-Jaccard verification of LSH candidates
  *   - `dd_simhash`      60-bit SimHash + banded Hamming-distance pairs
  *
  * Scale design (the part that must survive 100 TB):
  *   - signature building is a PROJECTION, not an aggregation: the
  *     codegen'd `minhash_sigs` / `simhash_sig` Expressions fold the
  *     `rolling_hash` gram array to a signature row-locally in one pass
  *     (`graft/functions/SigExpressions.scala`), so the gram multiset is
  *     never materialized as rows and signature building for the whole
  *     corpus costs ZERO shuffle;
  *   - where true per-doc gram SETS are needed (exact Jaccard), grams are
  *     exploded only for CANDIDATE docs (semi-join prune before the
  *     explode), then ONE repartition by doc_id serves the per-doc
  *     distinct and sizes — never a global (doc_id, gram) distinct, and
  *     never gram rows for docs no candidate pair touches;
  *   - cross-document matching is a self-join on the LSH band bucket
  *     `(band, signature)` / simhash chunk — never an all-pairs O(n²) join —
  *     and band buckets above [[maxBucket]] docs are dropped before the
  *     self-join (a stopword-like bucket approaches O(corpus) and the join
  *     would go quadratic in it);
  *   - exact-Jaccard verification runs only on minhash-estimate-filtered
  *     LSH candidates; the per-doc gram/size tables are left-semi-pruned to
  *     candidate doc_ids FIRST, so every join input on the verify path is
  *     candidate-sized by construction and AQE picks build sides at runtime
  *     (no data-dependent `broadcast()` hints — a per-doc or per-pair table
  *     force-broadcast on a dup-heavy corpus is a driver OOM at 100 TB);
  *   - the simhash Hamming filter is applied inside the band join, before
  *     dedup, because shared-vocabulary corpora skew band buckets (1.5M raw
  *     collisions at sf0.1 → the distinct input must be result-sized).
  */
object DedupQueries {

  private val nSeeds = 16
  private val bandRows = 4
  private val nBands = nSeeds / bandRows // 4
  private val shingleLen = 5
  private val estThreshold = "0.5"
  private val dupThreshold = "0.8"

  /** Everything the clustering output depends on besides the corpus: a
    * staged cluster table written under DIFFERENT values of any of these is
    * not a valid stage for this code (PipelineQueries validates the full
    * fingerprint before cross-session reuse). */
  private[llm] def algoFingerprint: String =
    s"v1;P=${LlmHash.P};seeds=$nSeeds;bandRows=$bandRows;shingle=$shingleLen;" +
      s"est=$estThreshold;dup=$dupThreshold;cap=$maxBucket"

  /** LSH band-bucket size cap: buckets with more docs than this are dropped
    * before the self-join (standard production-LSH practice). Recall
    * trade-off: a pair only in over-cap buckets is lost, but a bucket this
    * populous is a low-information signature (shared boilerplate), and a
    * true near-dup pair has `nBands` independent chances to collide in a
    * small bucket. The cap bounds the self-join at O(cap²) per bucket
    * regardless of corpus skew. Mirrored in the oracle CTE. */
  private[llm] val maxBucket = 64

  /** Train share (percent) for the leakage-safe `dd_split`. */
  private[llm] val splitTrainPct = 90

  /** Body of `dd_edit` over any (doc_id, text, ...) frame — factored so
    * the pigeonhole-envelope spec drives the real band + verify chain.
    * Emits (d1, d2, edit_dist) with d1 < d2, edit_dist ≤ 2, UNORDERED. */
  private[llm] def editPairsDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val px = docs
      .select(col("doc_id"), expr("rpad(substring(text, 1, 64), 64, '~')").as("p"))
    val parts = px.select(col("doc_id"), col("p"),
        explode(expr(
          "array(named_struct('i', 1, 'part', substring(p, 1, 22)), " +
            "named_struct('i', 2, 'part', substring(p, 23, 21)), " +
            "named_struct('i', 3, 'part', substring(p, 44, 21)))")).as("b"))
      .select(col("doc_id"), col("p"), col("b.i").as("i"), col("b.part").as("part"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // cap + both join legs
    val ok = parts.groupBy("i", "part").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket).drop("n")
    val banded = parts.join(ok, Seq("i", "part"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.i") === col("b.i") && col("a.part") === col("b.part") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.p").as("pa"), col("b.p").as("pb"))
      .groupBy("d1", "d2").agg(min("pa").as("pa"), min("pb").as("pb"))
      .withColumn("edit_dist", levenshtein(col("pa"), col("pb")))
      .filter(col("edit_dist") <= 2)
      .select(col("d1"), col("d2"), col("edit_dist").cast("int").as("edit_dist"))
  }

  // ------------------------------------------------------------ Spark side
  //
  // The Spark bodies use explode + codegen'd hash expressions rather than
  // the array-lambda form the DuckDB oracle uses (results are identical):
  // Catalyst higher-order functions (transform/aggregate) run INTERPRETED
  // per element, so md5 inside a lambda is ~3x slower than the same md5 in
  // a whole-stage-codegen'd projection under an explode. Measured on this
  // suite: array-lambda simhash 6.4s vs explode+groupBy 2.2s at sf0.1.

  // Gram hashing note (the avalanche the signature Expressions and the
  // verify projection both apply): the rolling hash is LINEAR in the char
  // codes and the affine per-seed rehash preserves linearity — without a
  // nonlinear mix, minhash components correlate across same-vocabulary
  // docs and LSH candidate precision drops ~3x (measured 267 vs 92
  // est>=0.5 pairs at sf0.01). (h² + c) % P is nonlinear, cheap, and
  // exactly reproducible in the oracle (h < P keeps h·h < 2^63). Gram
  // hashes come from the O(n)-per-doc `rolling_hash` Expression — one pass
  // per document instead of an md5 per position.

  /** One row per doc: m0..m15 minhash components — a row-local projection
    * (`minhash_sigs` folds the rolling-hash array with avalanche + 16
    * affine rehashes in one codegen'd loop; no explode, no shuffle).
    * `private[llm]` so the planted-pair recall spec can drive the real
    * signature + LSH chain with synthetic near-dups. */
  private[llm] def minhashSigs(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .filter(length(col("text")) >= shingleLen)
      .withColumn("sigs", expr(s"minhash_sigs(rolling_hash(text, $shingleLen))"))
      .select(col("doc_id") +:
        (0 until nSeeds).map(i => element_at(col("sigs"), i + 1).as(s"m$i")): _*)
  }

  /** Capped band rows: one row per (doc, band) carrying the doc's full
    * 16-component signature as 16 NARROW COLUMNS (so downstream est
    * comparisons stay in whole-stage codegen), keyed by the band bucket
    * `(b, sig)` and pruned of buckets over [[maxBucket]]. The cap count
    * and the semi-join key on the same (b, sig) the pair self-join
    * shuffles on, so the extra aggregation rides the exchange the join
    * needs anyway. */
  private def cappedBandRows(mh: DataFrame): DataFrame = {
    val bandStructs = (0 until nBands).map { b =>
      val sig = concat_ws(",", (0 until bandRows).map(i => col(s"m${bandRows * b + i}")): _*)
      struct(lit(b).as("b"), sig.as("sig"))
    }
    val bands = mh
      .select(col("doc_id") +: (0 until nSeeds).map(i => col(s"m$i")) :+
        explode(array(bandStructs: _*)).as("bs"): _*)
      .select(col("doc_id") +: (0 until nSeeds).map(i => col(s"m$i")) :+
        col("bs.b").as("b") :+ col("bs.sig").as("sig"): _*)
    val ok = bands.groupBy("b", "sig").agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= maxBucket)
      .select("b", "sig")
    bands.join(ok, Seq("b", "sig"), "left_semi")
  }

  /** Codegen'd matching-component fraction between the x-side and y-side
    * signature columns of a band-collision row. */
  private def estExpr: org.apache.spark.sql.Column = {
    val matches = (0 until nSeeds)
      .map(i => when(col(s"x.m$i") === col(s"y.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    matches.cast("double") / nSeeds.toDouble
  }

  /** Raw band-collision pairs (the cap spec's surface — no est filter).
    * One `cappedBandRows` frame aliased for both self-join sides (the
    * estPairs shape), so the bucket-count groupBy + semi prune plan once. */
  private[llm] def lshPairs(mh: DataFrame): DataFrame = {
    val banded = cappedBandRows(mh)
    banded.as("x")
      .join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** Candidate pairs at `est >= minEst` with their estimated Jaccard
    * (matching-component fraction).
    *
    * Scale shape — this is the chain's n²/B hot spot, so the quadratic
    * term must stay IN-STAGE: the only shuffles are the (b, sig) exchange
    * of 4n narrow band rows (the self-join + the cap count riding it) and
    * a SURVIVOR-sized pair dedup. The est filter runs as a codegen'd
    * 16-column comparison ON the join's output iterator — band-collision
    * rows that fail the threshold (the false crowds that dominate
    * mid-scale: measured 743k of 744k at a 50k-doc slice) die inside the
    * join stage without ever being exchanged. The former shape grouped
    * ALL collision rows by (d1, d2) carrying two 16-long arrays (~256 B)
    * and THEN applied an interpreted `aggregate(zip_with(...))` lambda —
    * at a 500k-doc slice that shuffle+lambda pair was the 20-minute wall
    * in the cluster stage build (SCALING.md fourth decade); this shape
    * re-measures ~linear. */
  private[llm] def estPairs(mh: DataFrame, minEst: Double): DataFrame = {
    val banded = cappedBandRows(mh)
    banded.as("x")
      .join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"), estExpr.as("est"))
      .filter(col("est") >= minEst)
      // dedup AFTER the filter: est is a function of the pair, so `first`
      // is deterministic; the exchange carries survivors only
      .groupBy("d1", "d2")
      .agg(first("est").as("est"))
  }

  // ----------------------------------------------------- DuckDB oracle CTEs

  // Oracle gram hashes: the congruent DIRECT polynomial form of the
  // Spark side's rolling hash (termwise (code·B^j) % P sums — same
  // canonical representative mod P).
  private val duckGramArr = {
    import graft.functions.RollingHash.{bpow, P => RP}
    val terms = (0 until shingleLen)
      .map(j => s"(CAST(ord(substring(text, CAST(i + $j AS INT), 1)) AS BIGINT) * ${bpow(shingleLen - 1 - j)}) % $RP")
      .mkString(" + ")
    // (...) % P is the rolling hash; the outer (h*h + c) % P is the same
    // quadratic avalanche the Spark side applies (see shingles())
    s"list_transform(list_transform(generate_series(1, length(text) - ${shingleLen - 1}), i -> (($terms) % $RP)), h0 -> (h0 * h0 + 987654321) % $RP)"
  }

  private val gsCte =
    s"""gs AS (
       |  SELECT doc_id, $duckGramArr AS garr,
       |    list_distinct($duckGramArr) AS hset
       |  FROM documents WHERE length(text) >= $shingleLen
       |)""".stripMargin

  private val mhCte = {
    val mins = (0 until nSeeds)
      .map(s => s"list_min(list_transform(hset, h -> ${affine(s, "h")})) AS m$s")
      .mkString(", ")
    s"mh AS (SELECT doc_id, $mins FROM gs)"
  }

  private val bandsCte = {
    val cases = (0 until nBands).map { b =>
      val cols = (0 until bandRows).map(i => s"m${bandRows * b + i}").mkString(", ")
      if (b < nBands - 1) s"WHEN $b THEN concat_ws(',', $cols)" else s"ELSE concat_ws(',', $cols)"
    }.mkString(" ")
    s"""bands AS (
       |  SELECT doc_id, b, CASE b $cases END AS sig
       |  FROM mh, unnest([0,1,2,3]) AS u(b)
       |)""".stripMargin
  }

  // bcap mirrors the Spark side's band-bucket size cap (maxBucket)
  private val pairsCte =
    s"""bcap AS (SELECT b, sig FROM bands GROUP BY b, sig HAVING count(*) <= $maxBucket),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x
       |  JOIN bcap c ON c.b = x.b AND c.sig = x.sig
       |  JOIN bands y
       |    ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id
       |)""".stripMargin

  /** Full oracle CTE chain ending in `jac(d1, d2, jaccard, is_dup)` —
    * shared by dd_jaccard and dd_clusters. */
  private val jacCtes: String = {
    val matches = (0 until nSeeds)
      .map(i => s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$gsCte, $mhCte, $bandsCte, $pairsCte,
       |cand AS (
       |  SELECT d1, d2 FROM (
       |    SELECT p.d1, p.d2, ($matches) / $nSeeds.0 AS est
       |    FROM pairs p JOIN mh x ON x.doc_id = p.d1 JOIN mh y ON y.doc_id = p.d2
       |  ) WHERE est >= $estThreshold
       |),
       |shd AS (SELECT doc_id, unnest(hset) AS hm FROM gs),
       |sizes AS (SELECT doc_id, len(hset) AS n FROM gs),
       |inter AS (
       |  SELECT p.d1, p.d2, count(*) AS ic
       |  FROM cand p
       |  JOIN shd a ON a.doc_id = p.d1
       |  JOIN shd b ON b.doc_id = p.d2 AND b.hm = a.hm
       |  GROUP BY p.d1, p.d2
       |),
       |jac AS (
       |  SELECT i.d1, i.d2,
       |    round(i.ic * 1.0 / (sa.n + sb.n - i.ic), 4) AS jaccard,
       |    CAST(CASE WHEN i.ic * 1.0 / (sa.n + sb.n - i.ic) >= $dupThreshold THEN 1 ELSE 0 END AS INT) AS is_dup
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.d1
       |  JOIN sizes sb ON sb.doc_id = i.d2
       |)""".stripMargin
  }

  /** Spark twin of [[jacCtes]]: (d1, d2, jaccard, is_dup), unordered.
    *
    * The verify stage is prune-first AND row-local: candidate doc_ids are
    * semi-joined against the DOCUMENTS table, each candidate doc folds to
    * its DISTINCT gram-set ARRAY in one projection (no gram explode, no
    * (doc, gram) repartition — gram rows never exist), and the exact
    * intersection is `array_intersect` computed INSIDE the pair row after
    * two candidate-sized joins attach the arrays. Former shape: explode →
    * repartition → distinct → (d2, hm) join → two size joins = 4+ shuffles
    * of gram-grain rows; now: zero gram-grain shuffles, the intersection
    * work is |pairs|, and the only exchanges are the pair-to-array joins.
    * No join carries a `broadcast()` hint — the array side is one row per
    * CANDIDATE doc, a data-dependent size AQE measures at runtime (a
    * forced hint is a driver OOM on a dup-heavy 100 TB corpus).
    *
    * Envelope: a candidate doc's gram set rides one row (~8 bytes/char).
    * Fine for any quality-gated corpus (the prep pipeline drops >5000-token
    * docs); a corpus of unbounded mega-docs would switch back to the
    * exploded (doc, gram) form, which this replaced — see git history. */
  private def jaccardDF(s: SparkSession, d: String): DataFrame =
    jaccardWithCaches(s, d)._1

  /** [[jaccardDF]] plus its persisted intermediates, so an EAGER caller
    * (the clustering loop, whose result is lineage-truncated by
    * localCheckpoint) can unpersist them once materialization is done —
    * a long-lived session must not accumulate stage caches. Lazy callers
    * (dd_jaccard) keep the caches alive for the duration of their query. */
  private def jaccardWithCaches(
      s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val docs = Tables.documents(s, d)
    // row-local signatures; persisted because the band join and both sides
    // of the estimate join consume them (cheap: one 16-long array per doc)
    val mh = minhashSigs(docs).persist(StorageLevel.MEMORY_AND_DISK)
    // cand feeds the doc_id prune AND the verify joins: persist so the
    // band self-join runs once, not three times
    val cand = estPairs(mh, estThreshold.toDouble)
      .select("d1", "d2")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // no .distinct(): candIds only ever feeds a LEFT SEMI join, which is
    // set-semantics on the probe side regardless of duplicate build rows —
    // the distinct was a full extra exchange+aggregate per dd query for
    // nothing (r10 optimization, guide §2.4 "a distinct on data that is
    // already... not needed")
    val candIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id")))
    graft.functions.GraftFunctions.register(s)
    // DISTINCT gram-set array per candidate doc, SORTED once per doc so
    // the per-pair intersection below is an allocation-free merge walk
    // (sorted_intersect_count) instead of a per-row hash set — the
    // built-in array_intersect builds an SQLOpenHashSet per PAIR, which
    // profiling at the 100×-slice showed as the verify stage's dominant
    // executor frame; sorting costs once per doc and amortizes over every
    // pair the doc appears in
    val sets = docs.join(candIds, Seq("doc_id"), "left_semi")
      .filter(length(col("text")) >= shingleLen)
      .select(col("doc_id"),
        expr(s"array_sort(array_distinct(transform(rolling_hash(text, $shingleLen), h0 -> (h0 * h0 + 987654321) % ${graft.functions.RollingHash.P})))").as("hset"))
    val j = cand
      .join(sets.select(col("doc_id").as("d1"), col("hset").as("ha")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("hset").as("hb")), "d2")
      .select(col("d1"), col("d2"),
        expr("sorted_intersect_count(ha, hb)").as("ic"),
        expr("size(ha)").as("na"), expr("size(hb)").as("nb"))
    val out = j.select(col("d1"), col("d2"),
      round(col("ic") * 1.0 / (col("na") + col("nb") - col("ic")), 4).as("jaccard"),
      (col("ic") * 1.0 / (col("na") + col("nb") - col("ic")) >= dupThreshold.toDouble)
        .cast("int").as("is_dup"))
    (out, Seq(mh, cand))
  }

  /** Oracle CTEs extending [[jacCtes]] with connected components:
    * `comp(doc_id, cluster_id)` over the is_dup graph. Prefix with
    * `WITH RECURSIVE`. Shared with the corpus-prep pipeline. */
  private[llm] val clusterCtes: String =
    s"""$jacCtes,
       |cedges AS (SELECT d1, d2 FROM jac WHERE is_dup = 1),
       |csym AS (SELECT d1, d2 FROM cedges UNION ALL SELECT d2 AS d1, d1 AS d2 FROM cedges),
       |reach(dd, r) AS (
       |  SELECT d1, d1 FROM csym
       |  UNION
       |  SELECT s.d2, reach.r FROM reach JOIN csym s ON s.d1 = reach.dd
       |),
       |comp AS (SELECT dd AS doc_id, min(r) AS cluster_id FROM reach GROUP BY dd)""".stripMargin

  /** Spark twin of [[clusterCtes]]: (doc_id, cluster_id) for every doc in a
    * duplicate cluster — connected components via min-label propagation
    * WITH POINTER JUMPING: each round takes the min of (own label, min
    * neighbor label, label-of-own-label). The jump term halves chain
    * lengths every round, so convergence is O(log diameter) instead of
    * O(diameter) — on a 20-link near-dup chain this is 5 rounds, not 20,
    * and each round is a fixed number of distributed jobs (the loop is
    * driver-CONTROL only; data never leaves the executors). The fixpoint
    * is the per-component min: any edge with unequal labels feeds the
    * smaller one to its neighbor next round. Lineage is truncated by
    * localCheckpoint; the convergence count reads the checkpointed frame
    * (no extra join). */
  private[llm] def clustersDF(s: SparkSession, d: String): DataFrame = {
    val (jac, jacCaches) = jaccardWithCaches(s, d)
    val edges = jac.filter(col("is_dup") === 1).select("d1", "d2")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = componentsOf(edges, "dd_clusters")
    (jacCaches :+ edges).foreach(_.unpersist(blocking = false))
    out.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Edge-count ceiling for the single-task exact components solve (see
    * [[componentsOf]]). Sized so the one task's working set stays small: at
    * the default 8M edges the flattened edge list is 128 MB of longs and
    * the node/parent arrays add ~3 words per distinct node — well inside
    * one executor task on any sane cluster. Parameterised (runtime conf /
    * env) so a cluster with fatter executors can raise it and a probe can
    * force the distributed loop with 0; the default is scale-ADAPTIVE, not
    * host-tuned: the choice is driven by the measured edge count of THIS
    * graph, exactly like an AQE broadcast decision. */
  private[llm] val LocalEdgeLimitDefault = 8000000L

  private def localEdgeLimit(s: SparkSession): Long =
    sys.env.get("SPARK_GRAFT_CC_LOCAL_EDGE_LIMIT").map(_.toLong).getOrElse(
      try s.conf.get("spark.graft.components.localEdgeLimit").toLong
      catch { case _: Throwable => LocalEdgeLimitDefault })

  /** Exact min-label connected components in ONE task: flatten the edge
    * list to primitive arrays, union-find with path halving + union by
    * rank (O(E α(E))), then per-root min over the distinct nodes. Returns
    * (node, lbl) rows for every node appearing in any edge — the identical
    * fixpoint the distributed loop converges to, computed in one pass. */
  private def localComponents(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges.select(col("d1").cast("long"), col("d2").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val eb = Array.newBuilder[Long]
        it.foreach { case (a, b) => eb += a; eb += b }
        val flat = eb.result()
        val nodes = flat.clone()
        java.util.Arrays.sort(nodes)
        // in-place dedup of the sorted node list
        var n = 0
        var i = 0
        while (i < nodes.length) {
          if (n == 0 || nodes(n - 1) != nodes(i)) { nodes(n) = nodes(i); n += 1 }
          i += 1
        }
        val parent = Array.tabulate(n)(identity)
        val rank = new Array[Byte](n)
        def find(x0: Int): Int = {
          var x = x0
          while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
          x
        }
        def idx(v: Long): Int = java.util.Arrays.binarySearch(nodes, 0, n, v)
        i = 0
        while (i < flat.length) {
          val ra = find(idx(flat(i)))
          val rb = find(idx(flat(i + 1)))
          if (ra != rb) {
            if (rank(ra) < rank(rb)) parent(ra) = rb
            else if (rank(ra) > rank(rb)) parent(rb) = ra
            else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
          }
          i += 2
        }
        val minLbl = new Array[Long](n)
        java.util.Arrays.fill(minLbl, Long.MaxValue)
        i = 0
        while (i < n) {
          val r = find(i)
          if (nodes(i) < minLbl(r)) minLbl(r) = nodes(i)
          i += 1
        }
        Iterator.range(0, n).map(j => (nodes(j), minLbl(find(j))))
      }
      .toDF("node", "lbl")
  }

  /** Min-label connected components over any DIRECTED edge frame (d1, d2)
    * — the pointer-jumping loop factored out of the near-dup chain so the
    * mutual-kNN semantic components (SimilarityQueries) run the SAME
    * audited machinery. Returns (node, lbl); `lbl` = component min.
    * Symmetrizes internally; output is localCheckpoint-truncated, so the
    * caller may unpersist its edge caches immediately.
    *
    * HYBRID (r10 optimization, guide §1.2 "the distributed algorithm"):
    * every producer of these edge frames is banded AND bucket-capped
    * (near-dup ≤64/bucket) or degree-bounded (mutual-kNN ≤k/node), so the
    * edge set is orders of magnitude smaller than the corpus it came from.
    * When the MEASURED edge count fits [[localEdgeLimitDefault]] (one cheap
    * count over the caller-persisted edges), the exact answer comes from a
    * single-task union-find — the 15–20 pointer-jump rounds × ~6 exchanges
    * each were pure scheduling overhead at that size (measured: the label
    * loop was 9.0 of mm_corpus_prep_staged's 10.7 s at sf0.1). Past the
    * limit the audited distributed loop runs unchanged. The same decision
    * rule holds on a cluster: a label round costs a fixed number of
    * distributed jobs no matter how small the frame, and an 8M-edge
    * union-find is sub-second on one core. */
  private[llm] def componentsOf(edges: DataFrame, tag: String): DataFrame = {
    val nEdges = edges.count()
    if (nEdges <= localEdgeLimit(edges.sparkSession)) {
      val t0 = System.nanoTime()
      // localCheckpoint keeps the caller contract: output is materialized
      // and lineage-truncated, so edge caches can be unpersisted at once
      val out = localComponents(edges).localCheckpoint()
      System.err.println(f"[$tag] local components: $nEdges edges, " +
        f"one-task union-find in ${(System.nanoTime() - t0) / 1e9}%.2fs")
      return out
    }
    componentsLoop(edges, tag)
  }

  /** Truncate `df`'s lineage for an iterative loop: localCheckpoint it,
    * then rebuild a fresh frame over the checkpointed rows. Returns the
    * frame and the checkpoint block sets it pinned (the getPersistentRDDs
    * delta — the internal RDD localCheckpoint persisted is not otherwise
    * reachable from the API).
    *
    * The rebuild matters: localCheckpoint truncates LINEAGE but carries the
    * child plan's ESTIMATED statistics forward (LogicalRDD.originStats). In
    * [[componentsLoop]] each round's plan references `labels` four times
    * (nmin, withNmin, jump×2), so the carried sizeInBytes PRODUCT grows
    * ~4^k in DIGIT COUNT; past ~14 rounds the optimizer's
    * canBroadcastBySize sits in BigInteger.multiply on numbers with 1e8+
    * digits and the driver wedges single-threaded for minutes (observed on
    * the mutual-kNN graph at sf0.1). Rebuilding drops originStats back to
    * defaultSizeInBytes; the only cost is a row re-encode. The same cut
    * bounds the plan walks of [[SimilarityQueries.kmeansScaledLayer]].
    *
    * The pinned block sets are the caller's to free: catalog.clearCache()
    * cannot release them (ADVICE r9), so a 20-round loop would otherwise
    * hold 20 dead label generations for the rest of the session (the r10
    * components warm-run band, 76–184 s at the sixth decade, tracked
    * this). A localCheckpoint RDD is non-recomputable, so free a set only
    * once nothing reads its frame. */
  private[llm] def truncated(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ck = df.localCheckpoint()
    val delta = sc.getPersistentRDDs.view.filterKeys(!before(_)).values.toSeq
    // Bound the checkpointed RDD's partition count by CLUSTER WIDTH
    // (defaultParallelism scales with executors×cores), not by the
    // static shuffle.partitions: AQE coalesces SQL exchanges but not an
    // RDD materialization, so under a cluster-shaped config (the
    // 256-partition dry run, SCALING.md) every loop round otherwise
    // schedules shuffle.partitions near-empty tasks × rounds — measured
    // 2-3× wall on the whole components family at sf0.1/256. The
    // coalesce is a no-op when partitions already fit the width.
    val width = 2 * ck.sparkSession.sparkContext.defaultParallelism
    val rdd = if (ck.rdd.getNumPartitions > width) ck.rdd.coalesce(width) else ck.rdd
    (ck.sparkSession.createDataFrame(rdd, ck.schema), delta)
  }

  /** The distributed pointer-jump label loop — the >[[localEdgeLimitDefault]]
    * path of [[componentsOf]], unchanged machinery. */
  private[llm] def componentsLoop(edges: DataFrame, tag: String): DataFrame = {
    // sym is scanned by EVERY round's nmin join — truncate its lineage
    // BEFORE the loop, not just cache it: an InMemoryRelation keeps its
    // child SparkPlan for eviction recompute, and every stage scanning the
    // cache serializes that plan into its task binaries. With a deep edge
    // lineage (the two-level Lloyd chain behind the mutual-kNN graph) that
    // was a ~4 MiB task binary × every stage × every round — measured as a
    // flat ~10 s/round at EVERY corpus size (r7; the trivial-edge twin ran
    // the same rounds in 0.3 s). A localCheckpoint cuts the plan to a
    // LogicalRDD; the persist keeps the scan columnar.
    val (symDf, symCk) = truncated(
      edges.union(edges.select(col("d2").as("d1"), col("d1").as("d2"))))
    val sym = symDf.persist(StorageLevel.MEMORY_AND_DISK)
    val tInit0 = System.nanoTime()
    var (labels, prevCk) = truncated(sym.select(col("d1").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")))
    System.err.println(f"[$tag] init (chain+labels): ${(System.nanoTime() - tInit0) / 1e9}%.2fs")
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 30) {
      val tR0 = System.nanoTime()
      val nmin = sym.join(labels, col("d2") === col("node"))
        .groupBy("d1").agg(min("lbl").as("nl"))
      val withNmin = labels.join(nmin, col("node") === col("d1"), "left")
      val (next, nextCk) = truncated(if (iter == 0) {
        // round 1: labels are the identity, so label-of-own-label is a
        // self-join no-op — skip the jump term (one join + exchange saved)
        withNmin.select(col("node"), col("lbl"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("nlbl"))
      } else {
        // NB a deeper lbl⁴ double-jump was measured and REJECTED: it
        // halves rounds on pointer-depth-bound graphs (the 4096-path spec
        // drops 14→8 rounds) but on the real mutual-kNN / near-dup graphs
        // convergence is bound by the neighbor-hop min wave, not pointer
        // depth — rounds stayed at ~20 while the two extra node joins
        // added ~15% per round (sim_components_kmeans 10.4s → 12.1s).
        val jump = labels.select(col("lbl").as("jn"), col("node").as("jnode"))
          .join(labels.select(col("node").as("jn"), col("lbl").as("jl")), "jn")
          .select(col("jnode"), col("jl"))
        withNmin
          .join(jump, col("node") === col("jnode"), "left")
          .select(col("node"), col("lbl"),
            least(col("lbl"), coalesce(col("nl"), col("lbl")),
              coalesce(col("jl"), col("lbl"))).as("nlbl"))
      })
      changed = next.filter(col("nlbl") =!= col("lbl")).count()
      labels = next.select(col("node"), col("nlbl").as("lbl"))
      // generation n is materialized (localCheckpoint is eager) — free
      // generation n−1's checkpoint blocks now, not at clearCache-never
      prevCk.foreach(_.unpersist(blocking = false))
      prevCk = nextCk
      iter += 1
      System.err.println(f"[$tag] round $iter: ${(System.nanoTime() - tR0) / 1e9}%.2fs")
    }
    // stderr (never stdout: Bench's contract is one JSON line on stdout)
    System.err.println(s"[$tag] converged in $iter rounds")
    // the loop materialized everything and `labels` is localCheckpoint-
    // truncated (no lineage back into the chain), so internal caches can
    // go NOW — a long-lived session (notebook, staged pipeline) must not
    // accumulate per-corpus cached RDDs until clearCache(). Only the FINAL
    // label generation's checkpoint blocks stay pinned: they back the
    // returned frame and are non-recomputable by design.
    sym.unpersist(blocking = false)
    symCk.foreach(_.unpersist(blocking = false))
    labels
  }

  // ---------------------------------------------------------------- queries

  val all: Seq[Q] = Seq(

    // Exact dedup: the canonical hash-shuffle groupBy — at 100 TB this is one
    // shuffle keyed on the 128-bit content hash, with AQE handling skew.
    Q("dd_exact",
      s"""SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    },

    // Edit-distance near-dup pairs on 64-char prefixes — the fuzzy-join
    // classic (titles, URLs, short identifiers) the shingle family doesn't
    // serve: n-gram Jaccard is blind to single-character edits in SHORT
    // strings (one substitution kills k adjacent grams). Candidate
    // generation is the PIGEONHOLE split: pad the prefix to exactly 64
    // chars, cut it into 3 fixed parts — any pair within 2 SUBSTITUTIONS
    // must agree exactly on at least one part (3 parts, 2 edits), so
    // banding on (part_index, part_text) finds every such pair with plain
    // equi-joins; the verify is the exact `levenshtein` (built-in, same DP
    // integer in both engines) at ≤ 2, so insert/delete variants that
    // happen to align on a part ARE scored by true edit distance — the
    // guarantee is substitution-complete, indel-opportunistic (documented
    // envelope, the spec pins both sides). Buckets over [[maxBucket]]
    // drop on BOTH sides (the LSH cap stance: a 64-doc identical-prefix
    // crowd is boilerplate, not pair evidence). Scale shape: the prefix
    // is a row-local projection; the band join is hash-partitioned with
    // capped buckets (≤ cap² pairs per bucket); levenshtein runs on
    // 64-char strings only for surviving candidates.
    Q("dd_edit",
      s"""WITH px AS (
         |  SELECT doc_id, rpad(substr(text, 1, 64), 64, '~') AS p FROM documents
         |),
         |parts AS (
         |  SELECT doc_id, p, 1 AS i, substr(p, 1, 22) AS part FROM px
         |  UNION ALL SELECT doc_id, p, 2, substr(p, 23, 21) FROM px
         |  UNION ALL SELECT doc_id, p, 3, substr(p, 44, 21) FROM px
         |),
         |okb AS (SELECT i, part FROM parts GROUP BY i, part HAVING count(*) <= $maxBucket),
         |f AS (SELECT parts.* FROM parts JOIN okb USING (i, part)),
         |pr AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, min(a.p) AS pa, min(b.p) AS pb
         |  FROM f a JOIN f b ON b.i = a.i AND b.part = a.part AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT d1, d2, CAST(levenshtein(pa, pb) AS INT) AS edit_dist
         |FROM pr WHERE levenshtein(pa, pb) <= 2
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      editPairsDF(Tables.documents(s, d)).orderBy("d1", "d2")
    },

    // MinHash + banded LSH: near-dup candidate pairs with estimated Jaccard
    // (fraction of matching minhash components), est >= 0.5.
    Q("dd_minhash_lsh", {
      val matches = (0 until nSeeds)
        .map(i => s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $gsCte, $mhCte, $bandsCte, $pairsCte
         |SELECT d1, d2, est_jaccard FROM (
         |  SELECT p.d1, p.d2, round(($matches) / $nSeeds.0, 4) AS est_jaccard
         |  FROM pairs p JOIN mh x ON x.doc_id = p.d1 JOIN mh y ON y.doc_id = p.d2
         |) WHERE est_jaccard >= $estThreshold
         |ORDER BY d1, d2""".stripMargin
    }) { (s, d) =>
      // Signature building is the row-local minhash_sigs projection — this
      // query moves NO gram rows at all, only |docs| signature rows; band
      // rows carry the signature columns, so the estimate needs no join
      // back (est = k/16 is exact in binary, so filtering the raw value
      // equals filtering the rounded display value).
      estPairs(minhashSigs(Tables.documents(s, d)), estThreshold.toDouble)
        .select(col("d1"), col("d2"), round(col("est"), 4).as("est_jaccard"))
        .orderBy("d1", "d2")
    },

    // Exact n-gram Jaccard verification, staged like a production pipeline:
    // LSH candidates → minhash-estimate prefilter (est >= 0.5, cuts the
    // verify set ~6x on this corpus) → exact shingle-set intersection via
    // hash join. Never all-pairs; the probe is |survivors| x |shingles/doc|.
    Q("dd_jaccard",
      s"""WITH $jacCtes
         |SELECT d1, d2, jaccard, is_dup FROM jac ORDER BY d1, d2""".stripMargin) {
      (s, d) => jaccardDF(s, d).orderBy("d1", "d2")
    },

    // Dedup clustering: the step that turns verified duplicate PAIRS into
    // keeper assignments — connected components over the is_dup graph via
    // min-label propagation. The loop is driver-CONTROL only (O(component
    // diameter) iterations, each a distributed join+agg with the lineage
    // truncated by localCheckpoint); data never leaves the cluster. The
    // oracle computes the same components with a recursive CTE.
    Q("dd_clusters",
      s"""WITH RECURSIVE $clusterCtes
         |SELECT doc_id, cluster_id,
         |  CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INT) AS is_keeper
         |FROM comp ORDER BY doc_id""".stripMargin) { (s, d) =>
      clustersDF(s, d)
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).cast("int").as("is_keeper"))
        .orderBy("doc_id")
    },

    // Chunk-level exact dedup — the sub-document pass (C4's "repeated
    // span" removal adapted to fixed chunks): a chunk survives only in the
    // FIRST document/position where its content appears corpus-wide.
    // Catches boilerplate shared across otherwise-distinct documents that
    // document-level dedup (dd_exact) can never see. Scale shape: one
    // chunk_hash exchange (the ranking window), then a |chunks|→|docs|
    // rollup; chunk content moves as a 128-bit hash, never text.
    Q("dd_chunk", {
      import TextQueries.{chunkLen, chunkStep}
      s"""WITH ch AS (
         |  SELECT doc_id, CAST((pos - 1) // $chunkStep AS BIGINT) AS chunk_idx,
         |    md5(substring(text, CAST(pos AS INT), $chunkLen)) AS chunk_hash
         |  FROM documents, unnest(generate_series(1, greatest(length(text), 1), $chunkStep)) AS t(pos)
         |),
         |rk AS (
         |  SELECT doc_id, chunk_idx,
         |    row_number() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx) AS rn
         |  FROM ch
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS keep_ratio
         |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      import TextQueries.{chunkLen, chunkStep}
      val ch = Tables.documents(s, d)
        .withColumn("pos", explode(expr(s"sequence(1, greatest(length(text), 1), $chunkStep)")))
        .select(col("doc_id"),
          expr(s"cast((pos - 1) div $chunkStep as bigint)").as("chunk_idx"),
          expr(s"md5(substring(text, pos, $chunkLen))").as("chunk_hash"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
      ch.withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          expr("round(n_kept * 1.0D / n_chunks, 4)").as("keep_ratio"))
        .orderBy("doc_id")
    },

    // SimHash: 60 bit-weights as row-local array aggregates (no shuffle),
    // banded candidate join on 15-bit chunks, Hamming via bit_count(xor).
    // Features are the char-5-gram hashes (same grams as minhash) — word
    // unigrams are useless on shared-vocabulary corpora (every doc's weight
    // vector converges to the vocab frequency profile: measured 12k+ false
    // pairs at hamming<=6 on 500 docs vs 67 true ones for grams at <=2).
    // 60 bits / 15-bit chunks (widened from 32/8 after the third-decade
    // scaling run measured 8-bit buckets densifying toward a quadratic
    // self-join): 32768 buckets per band keep occupancy ~n/32768, and the
    // [[maxBucket]] cap (shared with the minhash path, inside
    // [[simhashBands]]) bounds any boilerplate-skewed bucket regardless.
    // The 4-band join pigeonhole-guarantees recall for hamming<=3 — the
    // emitted threshold, scaled with the width (2/32 -> 3/60 keeps the
    // same ~6% bit-flip sensitivity).
    Q("dd_simhash", {
      val ws = (0 until 60)
        .map(i => s"list_sum(list_transform(garr, h -> CASE WHEN ${affine(16 + i, "h")} % 2 = 1 THEN 1 ELSE -1 END)) AS w$i")
        .mkString(", ")
      val simExpr = (0 until 60)
        .map(i => s"(CASE WHEN w$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      s"""WITH $gsCte,
         |w AS (SELECT doc_id, $ws FROM gs),
         |sim AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM w),
         |bandt0 AS (
         |  SELECT doc_id, simhash, b, (simhash >> (15 * b)) & 32767 AS chunk
         |  FROM sim, unnest([0,1,2,3]) AS u(b)
         |),
         |okb AS (SELECT b, chunk FROM bandt0 GROUP BY b, chunk HAVING count(*) <= $maxBucket),
         |bandt AS (SELECT bandt0.* FROM bandt0 JOIN okb USING (b, chunk))
         |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM bandt x JOIN bandt y
         |  ON x.b = y.b AND x.chunk = y.chunk AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY d1, d2""".stripMargin
    }) { (s, d) =>
      // row-local simhash_sig projection: all 32 bit-weight sums + sign
      // packing fold over the rolling-hash array in one codegen'd loop —
      // no gram explode, no 32-aggregate groupBy, zero shuffle to here
      graft.functions.GraftFunctions.register(s)
      simhashPairs(Tables.documents(s, d)).orderBy("d1", "d2")
    },

    // Incremental (cross-corpus) dedup — the corpus-UPDATE operator: dedup
    // a new crawl against the EXISTING training set (doc_id % 3 == 0 slice
    // standing in for it), not against itself. An incoming doc is flagged
    // exact_dup on content-hash membership and near_dup on a banded
    // simhash Hamming ≤ 3 match into the existing side. Scale shape:
    // asymmetric band join — incoming band rows meet only same-chunk
    // existing rows (never all-pairs, never incoming×incoming); the
    // content-hash check is a hash-partitioned semi join; both flags then
    // left-join the incoming base (per-doc, result-sized).
    Q("dd_incremental",
      s"""WITH $incrementalCtes
         |SELECT doc_id, exact_dup, near_dup, keep FROM incr
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      incrementalKeepDF(s, d).orderBy("doc_id")
    },

    // Leakage-safe train/validation split — the eval-hygiene operator that
    // plain hash splits get WRONG: hashing doc_id puts two near-duplicate
    // documents on opposite sides of the split, so the model trains on a
    // paraphrase of its own validation set. Here the split key is the
    // near-dup CLUSTER root (dd_clusters' connected components; singletons
    // are their own root), so every member of a duplicate cluster lands on
    // the same side, always. 90/10 via the cross-engine md5 fold of the
    // root id — content-independent, reproducible across runs and engines,
    // and stable under repartitioning (the tx_sample stance).
    //
    // Scale shape: the component chain is dd_clusters (banded candidates,
    // pointer-jumping label propagation, O(log diameter) rounds); the root
    // join back to the doc base is doc-sized left join (clusters are the
    // small side — AQE broadcasts); the hash gate is a row-local codegen
    // projection. No new shuffle beyond the cluster chain itself.
    Q("dd_split", splitOracle) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      splitDF(s, d).orderBy("doc_id")
    },

    // Dedup threshold curve — the sensitivity sweep behind "is 0.8 the
    // right dup cutoff for THIS corpus": verified-pair counts at five
    // Jaccard thresholds in one pass over the exact-verify chain. A cliff
    // between two thresholds means the corpus has a near-dup band the
    // cutoff choice is slicing through; flat means the choice is safe.
    // Scale shape: all cost is the shared dd_jaccard chain; the sweep is
    // a 5-literal-row theta join against the (candidate-sized) verified
    // pair table, counted map-side. Thresholds compare against the SAME
    // 4-dp-rounded jaccard both engines already hash-agree on.
    Q("dd_threshold_curve",
      s"""WITH $jacCtes,
         |t AS (SELECT unnest([50, 60, 70, 80, 90]) AS thr)
         |SELECT CAST(t.thr AS BIGINT) AS thr_pct, CAST(count(j.d1) AS BIGINT) AS n_pairs
         |FROM t LEFT JOIN jac j ON j.jaccard >= t.thr / 100.0
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      // literal frame (LocalTableScan) — provably constant to the plan
      // audit, so the 5×pairs theta join needs no BNLJ declaration
      val thr = Seq(50, 60, 70, 80, 90).toDF("thr")
      thr.join(jaccardDF(s, d), expr("jaccard >= thr / 100.0D"), "left")
        .groupBy(col("thr").cast("long").as("thr_pct"))
        .agg(count(col("d1")).as("n_pairs"))
        .orderBy("thr_pct")
    },

    // Crawl-over-crawl snapshot diff — the corpus-versioning audit every
    // recurring-crawl pipeline needs before reprocessing: classify every
    // doc_id across two snapshots as added / removed / changed / unchanged
    // by content hash. The fixture derives both snapshots from the one
    // documents table (old = doc_id % 10 <> 7, new = doc_id % 10 <> 3 with
    // a deterministic ' [rev2]' edit on doc_id % 5 = 0) — in production
    // they are two crawl partitions and the query is unchanged.
    //
    // Scale shape: each side reduces to (doc_id, source, 32-byte md5) in
    // the scan projection, so the full-outer join co-partitions on doc_id
    // and shuffles three narrow columns — document text NEVER shuffles.
    // The class decision is a row-local CASE after the join. At 100 TB
    // both crawls would be date-partitioned parquet; the join is the only
    // exchange and AQE handles the (rare) hot doc_id skew.
    Q("dd_corpus_diff",
      s"""WITH snap_a AS (
         |  SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 10 <> 7
         |),
         |snap_b AS (
         |  SELECT doc_id, source,
         |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END) AS h
         |  FROM documents WHERE doc_id % 10 <> 3
         |)
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  coalesce(b.source, a.source) AS source,
         |  CASE WHEN a.doc_id IS NULL THEN 'added'
         |       WHEN b.doc_id IS NULL THEN 'removed'
         |       WHEN a.h <> b.h THEN 'changed' ELSE 'unchanged' END AS change_class
         |FROM snap_a a FULL OUTER JOIN snap_b b ON b.doc_id = a.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
      val snapA = base.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val snapB = base.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"), col("source"),
          md5(expr("CASE WHEN doc_id % 5 = 0 THEN concat(text, ' [rev2]') ELSE text END")).as("h"))
      snapA.as("a").join(snapB.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
        .select(
          coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"),
          coalesce(col("b.source"), col("a.source")).as("source"),
          expr("""CASE WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN a.h <> b.h THEN 'changed' ELSE 'unchanged' END""")
            .as("change_class"))
        .orderBy("doc_id")
    },

    // Quality-aware canonical selection — the step after clustering that
    // dd_clusters' "keeper = min doc_id" deliberately doesn't do: per
    // near-dup cluster, KEEP THE BEST member (longest n_chars, doc_id
    // tiebreak), the policy real corpus prep wants when duplicates differ
    // in truncation or boilerplate. Composes the full
    // shingle→MinHash→LSH→verify→components chain with one cluster-
    // partitioned argmax. Scale shape: the chain is the audited
    // dd_clusters plan; the added work is a doc-level join (AQE picks the
    // build side) plus a window over CLUSTERS — partition cardinality =
    // cluster size, bounded by the dedup radius, never corpus-sized.
    Q("dd_best_of_cluster", bestOfClusterOracle) { (s, d) =>
      bestOfClusterDF(clustersDF(s, d),
        Tables.documents(s, d).select("doc_id", "n_chars"))
        .orderBy("cluster_id")
    },
  )

  /** Shared oracle for `dd_best_of_cluster` and its staged twin — only
    * `comp`'s provenance differs (recompute vs bucketed stage), results
    * identical by construction. */
  private[llm] lazy val bestOfClusterOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |mem AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars
       |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
       |),
       |best AS (
       |  SELECT cluster_id, doc_id AS keep_doc_id, n_chars AS keep_n_chars,
       |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM mem
       |)
       |SELECT cluster_id, keep_doc_id, keep_n_chars, n_members
       |FROM best WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** dd_best_of_cluster selection over any (doc_id, cluster_id) components
    * frame + (doc_id, n_chars) quality frame — factored so the planted-
    * cluster spec drives the real argmax. */
  private[llm] def bestOfClusterDF(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val mem = clusters.join(docs, "doc_id")
    val wC = Window.partitionBy("cluster_id")
    val wR = wC.orderBy(col("n_chars").desc, col("doc_id"))
    mem
      .withColumn("n_members", count(lit(1)).over(wC))
      .withColumn("rn", row_number().over(wR))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
        col("n_chars").as("keep_n_chars"), col("n_members"))
  }

  /** Shared oracle for `dd_split` and its staged twin — both must produce
    * the identical split, whatever produced the component table. */
  // lazy: referenced from `all`'s initializer above (and from
  // PipelineQueries' staged twin) — a strict val here would still be null
  // mid-object-init when `all` builds its Q entries
  private[llm] lazy val splitOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |rooted AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS root
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
       |)
       |SELECT doc_id, CAST(root AS BIGINT) AS cluster_root,
       |  CASE WHEN ${duckH("CAST(root AS VARCHAR)")} % 100 < $splitTrainPct
       |       THEN 'train' ELSE 'val' END AS split
       |FROM rooted ORDER BY doc_id""".stripMargin

  /** 90/10 leakage-safe split over an explicit (doc_id, cluster_id)
    * component frame — the staged-table twin feeds the bucketed stage here
    * instead of recomputing the chain. */
  private[llm] def splitFromClusters(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.select("doc_id")
      .join(clusters.select(col("doc_id"), col("cluster_id").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_root"))
      .select(col("doc_id"), col("cluster_root").cast("long").as("cluster_root"),
        expr(s"CASE WHEN ${sparkH("CAST(cluster_root AS STRING)")} % 100 < $splitTrainPct" +
          " THEN 'train' ELSE 'val' END").as("split"))

  /** 90/10 leakage-safe split body (`dd_split`): docs joined to their
    * near-dup cluster root, split decided by the root's md5 fold so cluster
    * members can never straddle the train/val boundary. */
  private[llm] def splitDF(s: SparkSession, d: String): DataFrame =
    splitFromClusters(Tables.documents(s, d), clustersDF(s, d))

  /** Oracle CTE chain for the incremental (cross-corpus) dedup, ending in
    * `incr(doc_id, exact_dup, near_dup, keep)` over the incoming slice —
    * shared by dd_incremental and the incremental prep pipeline. */
  private[llm] def incrementalCtes: String = {
    val ws = (0 until 60)
      .map(i => s"list_sum(list_transform(garr, h -> CASE WHEN ${affine(16 + i, "h")} % 2 = 1 THEN 1 ELSE -1 END)) AS w$i")
      .mkString(", ")
    val simExpr = (0 until 60)
      .map(i => s"(CASE WHEN w$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""$gsCte,
       |w AS (SELECT doc_id, $ws FROM gs),
       |sim AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM w),
       |bandt0 AS (
       |  SELECT doc_id, simhash, b, (simhash >> (15 * b)) & 32767 AS chunk
       |  FROM sim, unnest([0,1,2,3]) AS u(b)
       |),
       |okb AS (SELECT b, chunk FROM bandt0 GROUP BY b, chunk HAVING count(*) <= $maxBucket),
       |bandt AS (SELECT bandt0.* FROM bandt0 JOIN okb USING (b, chunk)),
       |exh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0),
       |nearids AS (
       |  SELECT DISTINCT y.doc_id
       |  FROM bandt y JOIN bandt x
       |    ON x.b = y.b AND x.chunk = y.chunk
       |   AND x.doc_id % 3 = 0 AND y.doc_id % 3 <> 0
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
       |),
       |incr AS (
       |  SELECT d.doc_id,
       |    CAST(CASE WHEN exh.h IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_dup,
       |    CAST(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS near_dup,
       |    CAST(CASE WHEN exh.h IS NULL AND n.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
       |  FROM documents d
       |  LEFT JOIN exh ON exh.h = md5(d.text)
       |  LEFT JOIN nearids n ON n.doc_id = d.doc_id
       |  WHERE d.doc_id % 3 <> 0
       |)""".stripMargin
  }

  /** Spark twin of [[incrementalCtes]]: per incoming doc, exact/near dup
    * flags against the existing corpus and the combined keep bit —
    * UNORDERED (callers sort or join as needed). */
  private[llm] def incrementalKeepDF(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    val bandt = simhashBands(docs)
    val nearIds = bandt.filter(col("doc_id") % 3 =!= 0).as("y")
      .join(bandt.filter(col("doc_id") % 3 === 0).as("x"),
        col("x.b") === col("y.b") && col("x.chunk") === col("y.chunk"))
      .filter(expr("bit_count(x.simhash ^ y.simhash) <= 3"))
      .select(col("y.doc_id").as("doc_id")).distinct()
      .withColumn("near", lit(1))
    val exh = docs.filter(col("doc_id") % 3 === 0)
      .select(md5(col("text")).as("h")).distinct()
      .withColumn("ex", lit(1))
    docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(exh, Seq("h"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ex"), lit(0)).cast("int").as("exact_dup"),
        coalesce(col("near"), lit(0)).cast("int").as("near_dup"),
        (coalesce(col("ex"), lit(0)) === 0 && coalesce(col("near"), lit(0)) === 0)
          .cast("int").as("keep"))
  }

  /** The dd_simhash pair pipeline over any (doc_id, text) frame —
    * `private[llm]` so the planted-pair recall spec can drive it with
    * synthetic near-dups. UNORDERED. */
  private[llm] def simhashPairs(docs: DataFrame): DataFrame = {
    val bandt = simhashBands(docs)
    bandt.as("x")
      .join(bandt.as("y"),
        col("x.b") === col("y.b") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** (doc_id, simhash, b, chunk): row-local simhash + 4×15-bit band chunks,
    * [[maxBucket]]-capped — shared by dd_simhash (self-join) and
    * dd_incremental (asymmetric join). The cap mirrors the minhash path:
    * a band bucket holding more than maxBucket docs is a low-information
    * signature (shared boilerplate) whose self-join would go quadratic in
    * corpus skew; dropping it bounds every bucket at O(cap²) while a true
    * near-dup pair keeps 4 independent band chances. */
  private def simhashBands(docs: DataFrame): DataFrame = {
    // persist the 2-long-per-doc signature table: the cap aggregate, the
    // band join, and both sides of a self-join would otherwise each
    // re-run the 60-seed signature fold over the full corpus (the
    // consumers' clearCache releases it, same contract as clustersDF)
    val sim = docs
      .filter(length(col("text")) >= shingleLen)
      .select(col("doc_id"),
        expr(s"simhash_sig(rolling_hash(text, $shingleLen))").as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("b"), expr(s"shiftright(simhash, ${15 * b}) & 32767").as("chunk"))
    }
    // carry simhash through the band join so Hamming is filtered BEFORE
    // distinct — shared-vocab corpora make band buckets skew, and filtering
    // inside the join stage keeps the distinct input at result size
    val bandt0 = sim
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("bc"))
      .select(col("doc_id"), col("simhash"), col("bc.b").as("b"), col("bc.chunk").as("chunk"))
    val ok = bandt0.groupBy("b", "chunk").agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= maxBucket).select("b", "chunk")
    bandt0.join(ok, Seq("b", "chunk"), "left_semi")
  }
}
