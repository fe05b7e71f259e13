package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.batch.Q
import graft.core.{StagedTable, Tables}
import LlmHash._

/** Similarity search over the `embeddings.parquet` vector column
  * (`Array[Float]`, 64-dim) — north-star work, no reference counterpart.
  *
  *   - `sim_topk_cosine` brute-force top-k cosine: the CORRECTNESS baseline.
  *     One scan of the corpus per query batch, queries broadcast, ranking
  *     windowed per query. O(|Q|·|C|) — fine for a query batch, not the
  *     shape for all-pairs at 100 TB.
  *   - `sim_ann_lsh`     the SCALE path: sign-LSH (8 random hyperplanes →
  *     256 buckets); candidates are only vectors sharing the query's bucket,
  *     so the join is hash-partitioned on the bucket id and never all-pairs.
  *     Recall is probabilistic (documented LSH property); the oracle runs
  *     the identical algorithm, so determinism is exact.
  *
  * Hot vector math runs through the codegen kernels (`vector_dot`,
  * `vector_l2q`, `vector_quantize` — graft.functions): Catalyst's
  * higher-order `zip_with`/`aggregate`/`transform` forms compute the same
  * values but interpreted, one boxed lambda call per element. Dots sum
  * left-to-right so the DuckDB `list_dot_product` twin produces
  * bit-identical doubles; quantized integers are order-free by
  * construction. Interpreted lambdas survive only on candidate-pair-sized
  * frames (the est filter), never on a corpus scan.
  */
object SimilarityQueries {

  private val topK = 5

  /** ADC shortlist width of the WIDE re-rank serve: per query, the top
    * [[serveTopC]] candidates by ADC survive to the exact re-rank pass —
    * |Q|·C rows join back to the corpus for true quantized vectors, so the
    * exact arithmetic touches a constant per query, never a cell.
    * (Declared with the top constants: the query map builds EAGERLY at
    * object init and interpolates this into the rerank oracle — a
    * declaration below the map renders as 0.) */
  private[llm] val serveTopC = 32
  /** sim_diverse_topk per-label-cell result cap (the diversity knob). */
  private val divCap = 2
  /** sim_recall_curve sweep points and their max (the rank-frame cutoff). */
  private val curveKs = Seq(1, 3, 5, 10)
  private val curveMaxK = curveKs.max
  /** every 50th vector is a "query" — a deterministic stand-in for a query
    * batch arriving from upstream */
  private[llm] val querySel = "vec_id % 50 = 0"
  /** Matryoshka prefix length for sim_twostage's coarse pass. */
  private val preDim = 16
  /** stage-1 candidates per query retained for exact re-rank (5× topK). */
  private val twoStageC = 25
  /** cells probed per query in sim_twostage_ann's IVF stage 1. 3 of the 10
    * label cells — the recall/cost knob; see the query's comment for the
    * measured recall geometry of the synthetic embeddings. */
  private val annNprobe = 3
  /** SemDeDup cosine threshold (raw-double compare, engine-congruent). */
  private val semTau = "0.35"
  /** IVF-PQ geometry: M subspaces × subDim dims, k codes per subspace,
    * quantization scale (the sim_kmeans stance — integers are exact). */
  private val pqM = 8
  private val pqSubDim = 8
  private val pqK = 16
  /** Bits per sub-code. pqK = 16 codewords → 4 bits, so a vector's WHOLE
    * M = 8 code packs into one BIGINT (the FAISS `uint8_t code[M]` layout,
    * flattened): the index's corpus-sized artifact is (vec_id, code) —
    * 20M rows at the seventh decade, not the 160M (vec_id, s, code)
    * triples whose per-serve join was measured at 51.6×/decade (SCALING
    * r10: the codes shuffle + the |Q|·M·K LUT join spilled ~70 GB at
    * 400k queries × 20M vectors; the packed ADC reads each distance with
    * two integer ops instead of a join). */
  private[llm] val pqCodeBits = {
    require((pqK & (pqK - 1)) == 0, "pqK must be a power of two to pack")
    java.lang.Integer.numberOfTrailingZeros(pqK)
  }
  /** Codebook-training sample cap (vectors): ≥ every oracle-checked corpus
    * (sf0.1 holds 200k), so the deterministic hash-sample in
    * [[pqBuildCodebooks]] degenerates to the full corpus wherever a value
    * oracle runs and only engages at decade slices. 2^18 ≈ 16k training
    * rows per codeword at pqK=16 — two orders past the ~39·k rule of
    * thumb for k-means training-set sufficiency. */
  private[llm] val pqTrainCap = 262144L
  private[llm] val pqScale = 10000

  /** sim_knn_graph: neighbors kept per vector. */
  private[llm] val knnK = 3

  /** sim_pagerank: power-iteration rounds (unrolled identically in the
    * oracle CTE chain). */
  private val prIters = 5

  /** DuckDB squared L2 distance between the first `n` elements of the
    * integer lists `a` and `b` — the oracle twin of `vector_l2q`. `brk`
    * is the text between the series and its lambda. */
  private def duckL2q(a: String, b: String, n: Int, brk: String = " "): String =
    s"CAST(list_sum(list_transform(generate_series(1, $n),${brk}i -> " +
      s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))) AS BIGINT)"

  /** Shared CTE chain ending in `knn(vec_id, neighbor_id, rank, dist)` —
    * the per-cell top-[[knnK]] neighbor graph over [[pqScale]]-quantized
    * vectors; consumed by sim_knn_graph (verbatim dump) and sim_pagerank
    * (edge input). Also exposes `xq` (the quantized vector table). */
  private lazy val knnCtes: String = {
    val dN = duckL2q("a.xq", "b.xq", LlmHash.dims)
    s"""xq AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * $pqScale, 0) AS BIGINT)) AS xq
       |  FROM embeddings
       |),
       |pairs AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id, $dN AS dist
       |  FROM xq a JOIN xq b ON b.label = a.label AND b.vec_id <> a.vec_id
       |),
       |rk AS (
       |  SELECT vec_id, neighbor_id, dist,
       |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS INT) AS rank
       |  FROM pairs
       |),
       |knn AS (SELECT vec_id, neighbor_id, rank, dist FROM rk WHERE rank <= $knnK)""".stripMargin
  }

  /** sim_kmeans geometry: cells and quantization scale. k is a constant
    * here; at production scale k ∝ sqrt(N) (re-fit per corpus), which is
    * exactly why the downstream consumers treat the k-row centroid table
    * as the only broadcastable side. */
  private val kmK = 8
  private[llm] val kmScale = 10000

  /** DuckDB CTE chain for the Lloyd chain at seed count `kExpr` (a SQL
    * expression — a literal for the fixed-k queries, a scalar subquery for
    * the k ∝ N re-fit), ending in `a2(vec_id, cid, dist)`; also exposes
    * `xq` (the kmScale-quantized vectors). */
  private def kmeansCtesK(kExpr: String): String = {
    def assignCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT x.vec_id, c.cid,
         |      ${duckL2q("x.xq", "c.carr", dims, brk = "\n        ")} AS dist
         |    FROM xq x, $cents c
         |  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
         |)""".stripMargin
    s"""xq AS (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * $kmScale, 0) AS BIGINT)) AS xq
       |  FROM embeddings
       |),
       |c0 AS (SELECT vec_id AS cid, xq AS carr FROM xq WHERE vec_id < ($kExpr)),
       |${assignCte("a1", "c0")},
       |${lloydUpdateCtes("s1", "c1", "a1")},
       |${assignCte("a2", "c1")}""".stripMargin
  }

  /** Lloyd UPDATE step oracle (shared by the fixed-k and scaled chains):
    * per-(cell, dim) integer sums → rounded-mean centroid arrays. */
  private def lloydUpdateCtes(sums: String, cents: String, asg: String): String =
    s"""$sums AS (
       |  SELECT a.cid, u.i, CAST(sum(x.xq[CAST(u.i AS INT)]) AS BIGINT) AS sv,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM $asg a JOIN xq x USING (vec_id), unnest(generate_series(1, ${LlmHash.dims})) AS u(i)
       |  GROUP BY a.cid, u.i
       |),
       |$cents AS (
       |  SELECT cid, list(CAST(round(CAST(sv AS DOUBLE) / n, 0) AS BIGINT) ORDER BY i) AS carr
       |  FROM $sums GROUP BY cid
       |)""".stripMargin

  /** Fixed-k chain shared by sim_kmeans and the kmeans-cell components
    * query. */
  private lazy val kmeansCtes: String = kmeansCtesK(kmK.toString)

  /** k ∝ N cell-size target: the scaled re-fit seeds
    * k = greatest(8, N div [[cellTarget]]) cells, holding expected cell
    * OCCUPANCY (not cell count) constant as the corpus grows — the
    * SemDeDup/IVF production contract the fixed-k queries only document.
    * 32 keeps the re-fit observable at the sf0.01 oracle (500 vectors →
    * 15 cells ≠ the fixed 8). */
  private val cellTarget = 32

  /** Cap on EXTRA seeds one hot cell may spawn in the split repair.
    * Uncapped, a round-0 cell of occupancy n spawns n/[[cellTarget]]−1
    * seeds — on replica-pile data (GenScale: pile size ∝ N) that makes the
    * routed fine-children lists in hot regions grow ∝ N/[[cellTarget]],
    * and the round-9 sixth-decade measurement read the FIT at 2.2× the
    * unrepaired assign (204.8 s vs 91.6 s at 2M vectors) with the blowup
    * in assign #2's candidate lists. The cap bounds children-list growth
    * at a CONSTANT (1+[[splitCap]])× per donor — the per-decade route
    * ratio stops tracking pile size — at the price of residual heat in
    * the capped cells (occ₀/(1+cap) instead of [[cellTarget]]), the
    * documented bounded-depth-hierarchy trade on density spikes; true
    * recursive subdivision (bounded fanout, variable depth) is the next
    * rung. 15 barely binds at sfx100 (max occ₀ ≈ 600 → 17 uncapped) so
    * the measured sixth-decade Σocc² repair survives intact. */
  private[llm] val splitCap = 15

  /** Super-layer width of the THREE-LEVEL assignment: the smallest integer
    * kcc ≥ 2 with kcc³ ≥ k, found by INTEGER search — never a fractional
    * pow/cbrt under a ceil(), which is exactly the 1-ulp cross-engine trap
    * tx_mix_temperature documents; the oracle runs the congruent
    * `min(i) FROM generate_series WHERE i*i*i >= k`. The coarse layer is
    * kcc² seeds, so the three per-vector terms (super route kcc, coarse
    * route ≈kc/kcc, fine argmin ≈k/kc) are ALL k^(1/3): O(N·k^(1/3)·d)
    * total — the rung below the two-level O(N·√k·d) whose N^1.5 growth the
    * round-8 sixth-decade re-measurement showed was algorithmic, not
    * partition config (14.8×/decade at auto partitions). */
  private[llm] def kccOf(k: Long): Long = {
    var i = 2L
    while (i * i * i < k) i += 1
    i
  }

  /** Oracle chain for the k ∝ N THREE-LEVEL Lloyd fit — the exact DuckDB
    * twin of [[kmeansScaledLayer]]: per round, (1) every FINE centroid
    * parents to its nearest coarse seed (pf — exact flat argmin over the
    * kcc²-row coarse table), (2) every CHILDFUL coarse seed parents to its
    * nearest super seed (pg — the bottom-up routable propagation: a super
    * is routable iff it has a routable coarse child), (3) every vector
    * routes super → coarse → fine (rs: the [[assignSProbe]] nearest
    * routable supers, kcc dists; rg: the [[assignGProbe]] nearest coarse
    * children across those supers, ≈sp·kcc dists; asg: argmin over those
    * seeds' fine children, ≈gp·kcc dists) — O(N·k^(1/3)·d) total. Between
    * the rounds the HOT-CELL SPLIT repair runs ONCE (occ0/split0/c1r —
    * the standard kmeans empty-cluster repair, VERDICT r8 #2): every cell
    * whose round-0 occupancy n ≥ 2·[[cellTarget]] spawns
    * min((n div cellTarget)−1, splitCap) extra seeds at members STRATIFIED
    * across its distance distribution (rank by (dist DESC, vec_id) within
    * the cell — a partitioned window, never global — pick ranks j·step,
    * step = n div (n div cellTarget)), new cid = k + donor vec_id
    * (collision-free: original cids sit in [0, k)). Probe-unreachable
    * round-0 cells die exactly as before, but the split re-invests their
    * budget into the observed hot regions, restoring cell count and
    * flattening Σocc² (the pair joins' work term) without touching the
    * O(k^(1/3)) route. Measured at sfx100 (200k vectors): unrepaired
    * 3299 cells / Σocc² 28.1M; farthest-member split 4472 / 26.6M;
    * stratified split 5343 / 19.2M (adopted). A SECOND repair round after
    * round 1 measured WORSE (5056 / 45.0M, max occupancy 1720): the extra
    * Lloyd update drifts centroids off the fixed seed lattice the probes
    * route through, orphaning whole regions — reachability, not balance,
    * binds past one round.
    * kcc is the INTEGER smallest i with i³ ≥ k ([[kccOf]]'s congruent
    * generate_series twin). Ends in `a2(vec_id, cid, dist)` assigned
    * against the repaired cents `c1r`; exposes `xq`, `sseeds`, `gseeds`,
    * `c1r`, `pf1`, `pg1` (the FINAL parent maps, for the multi-probe
    * extension). Same quantized integers and (dist, id) tie order as every
    * Lloyd chain here, so determinism is exact even though the layered
    * assignment is an APPROXIMATION of the flat argmin (the IVF trade —
    * recall is audited by sim_knn_recall_multiprobe_scaled, not argued). */
  private lazy val kmeansThreeLevelCtes: String = {
    def l2(a: String, b: String) = duckL2q(a, b, dims)
    def assignCtes(r: String, cents: String, asg: String) =
      s"""pf$r AS (
         |  SELECT cid, gid FROM (
         |    SELECT c.cid, g.gid, ${l2("c.carr", "g.garr")} AS gd
         |    FROM $cents c, gseeds g
         |  ) QUALIFY row_number() OVER (PARTITION BY cid ORDER BY gd, gid) = 1
         |),
         |pg$r AS (
         |  SELECT gid, sid FROM (
         |    SELECT g.gid, s.sid, ${l2("g.garr", "s.sarr")} AS sd
         |    FROM gseeds g, sseeds s
         |    WHERE g.gid IN (SELECT gid FROM pf$r)
         |  ) QUALIFY row_number() OVER (PARTITION BY gid ORDER BY sd, sid) = 1
         |),
         |rs$r AS (
         |  SELECT vec_id, sid FROM (
         |    SELECT x.vec_id, s.sid, ${l2("x.xq", "s.sarr")} AS sd
         |    FROM xq x, sseeds s
         |    WHERE s.sid IN (SELECT sid FROM pg$r)
         |  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sd, sid) <= $assignSProbe
         |),
         |rg$r AS (
         |  SELECT vec_id, gid FROM (
         |    SELECT x.vec_id, p.gid, ${l2("x.xq", "g.garr")} AS gd
         |    FROM xq x JOIN rs$r rt USING (vec_id)
         |      JOIN pg$r p ON p.sid = rt.sid
         |      JOIN gseeds g ON g.gid = p.gid
         |  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY gd, gid) <= $assignGProbe
         |),
         |$asg AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT x.vec_id, c.cid, ${l2("x.xq", "c.carr")} AS dist
         |    FROM xq x JOIN rg$r rt USING (vec_id)
         |      JOIN pf$r p ON p.gid = rt.gid
         |      JOIN $cents c ON c.cid = p.cid
         |  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
         |)""".stripMargin
    s"""xq AS (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * $kmScale, 0) AS BIGINT)) AS xq
       |  FROM embeddings
       |),
       |kk AS (SELECT greatest(8, count(*) // $cellTarget) AS k FROM embeddings),
       |kcc AS (
       |  SELECT CAST(min(i) AS BIGINT) AS v FROM generate_series(2, 1048576) AS t(i)
       |  WHERE i*i*i >= (SELECT k FROM kk)
       |),
       |sseeds AS (
       |  SELECT vec_id AS sid, xq AS sarr FROM xq
       |  WHERE vec_id < (SELECT v FROM kcc)
       |),
       |gseeds AS (
       |  SELECT vec_id AS gid, xq AS garr FROM xq
       |  WHERE vec_id < (SELECT v * v FROM kcc)
       |),
       |c0 AS (SELECT vec_id AS cid, xq AS carr FROM xq WHERE vec_id < (SELECT k FROM kk)),
       |${assignCtes("0", "c0", "a1")},
       |${lloydUpdateCtes("s1", "c1", "a1")},
       |${splitCtes("occ0", "split0", "a1", "(SELECT k FROM kk)")},
       |c1r AS (SELECT cid, carr FROM c1 UNION ALL SELECT cid, carr FROM split0),
       |${assignCtes("1", "c1r", "a2")}""".stripMargin
  }

  /** One hot-cell split repair round (oracle side): `$split` holds the new
    * stratified seeds spawned from `$asg`'s occupancy (see the Spark twin's
    * scaladoc at [[kmeansScaledLayer]] for the rule); new cid = $base +
    * donor vec_id. */
  private def splitCtes(occ: String, split: String, asg: String,
      base: String): String =
    s"""$occ AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM $asg GROUP BY cid),
       |$split AS (
       |  SELECT $base + r.vec_id AS cid, x.xq AS carr
       |  FROM (
       |    SELECT cid, vec_id,
       |      row_number() OVER (PARTITION BY cid ORDER BY dist DESC, vec_id) AS m
       |    FROM $asg
       |  ) r JOIN $occ o USING (cid) JOIN xq x ON x.vec_id = r.vec_id
       |  WHERE o.n >= ${2 * cellTarget}
       |    AND r.m % (o.n // (o.n // $cellTarget)) = 0
       |    AND r.m // (o.n // (o.n // $cellTarget)) <= least((o.n // $cellTarget) - 1, $splitCap)
       |)""".stripMargin

  /** Spark twin of [[kmeansCtes]]: (xq persisted, a2 assignment). xq is
    * MEMORY_AND_DISK-persisted for the chain's repeated reads — consumers
    * rely on the Verify/Bench clearCache contract. */
  private def kmeansLayer(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val (xq, _, a2) = kmeansLayerFull(s, d)
    (xq, a2)
  }

  /** The k ∝ N re-fit with THREE-LEVEL Lloyd assignment — the production
    * layer behind sim_kmeans_scaled / sim_components_kmeans_scaled and the
    * scaled multi-probe graph. k = max(8, N/[[cellTarget]]) from ONE corpus
    * count (a driver-side scalar, the same role as the componentsOf loop's
    * convergence count — not a data collect), so expected cell OCCUPANCY
    * stays ~[[cellTarget]] at every corpus size and the per-cell pair joins
    * downstream do CONSTANT work per cell, linear total.
    *
    * Assignment is the sim_ivfpq coarse-routing shape applied to Lloyd
    * itself, THREE layers deep (see [[assignScaled]]): with k ∝ N the FLAT
    * argmin is every vector × every centroid = O(N²d/32) — measured as
    * ~500 of the 519.7s 100×-slice reading in round 6 (SCALING.md); the
    * round-7 two-level rung dropped it to O(N·√k·d), whose N^1.5 growth
    * the round-8 sixth-decade re-measurement showed was algorithmic
    * (14.8×/decade at auto partitions), so the round-8 rung makes every
    * per-vector term k^(1/3): super route (kcc) → coarse route (≈kcc) →
    * fine argmin (≈kcc), O(N·k^(1/3)·d) total. The broadcast tables are
    * the kcc×d supers, kcc²×d coarse seeds, and the k×d fine table
    * (≈N/32 rows — ~16 GB only past 1e9 vectors; beyond that the layer
    * stack recurses, same shape; the fine→coarse parent map's k·kcc²·d
    * build term likewise recurses through the super layer past ~1e8
    * vectors — documented, not yet needed: at 2M vectors it is 100M
    * broadcast-side distance evals, seconds of work).
    *
    * Returns the [[ScaledFit]] bundle: xq (persisted), the super and
    * coarse seed tables, c1 (fine centroids, persisted), the round-1
    * fine→coarse (pf) and coarse→super (pg) parent maps (persisted —
    * downstream probe selection and the scaled PQ index REUSE them instead
    * of recomputing; ADVICE r7), the final a2 assignment, k, and the
    * persisted cache handles. Handle contract (the pqBuildIndex pattern):
    * callers that materialize their result (staging builders) unpersist
    * `caches` when done; query-shaped callers hand frames to the runner
    * and rely on the Verify/Bench clearCache contract. */
  private[llm] case class ScaledFit(xq: DataFrame, sseeds: DataFrame,
      gseeds: DataFrame, cents: DataFrame, pf: DataFrame, pg: DataFrame,
      a2: DataFrame, k: Long, caches: Seq[DataFrame],
      ckRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil) {
    /** Release EVERYTHING the fit pinned in the block manager: the persisted
      * frames AND the localCheckpoint block sets behind its two
      * [[DedupQueries.truncated]] points — catalog.clearCache() drops only
      * the former, so a loop of fits (RecallProbe's grid) would otherwise
      * accumulate checkpoint blocks until GC (ADVICE r9). Callers must not
      * touch the fit's frames after release: a localCheckpoint RDD is
      * non-recomputable by design (lineage truncated), so its unpersist is
      * destructive — which is also the honest caveat on executor loss (a
      * lost block means refit, the price of keeping plan walks O(1); the
      * staged faces make refit rare). */
    def release(): Unit = {
      caches.foreach(_.unpersist(blocking = false))
      ckRdds.foreach(_.unpersist(blocking = false))
    }
  }

  /** Test hook: number of scaled fits this JVM actually ran — the
    * cross-artifact adoption spec asserts a valid PQ stage means ZERO. */
  @volatile private[graft] var scaledFitsComputed: Int = 0

  private[llm] def kmeansScaledLayer(s: org.apache.spark.sql.SparkSession, d: String)
      : ScaledFit = {
    scaledFitsComputed += 1
    graft.functions.GraftFunctions.register(s)
    val n = Tables.embeddings(s, d).count()
    val k = math.max(8L, n / cellTarget)
    val kcc = kccOf(k)
    val xq = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr(s"vector_quantize(embedding, $kmScale)").as("xq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sseeds = xq.filter(col("vec_id") < kcc)
      .select(col("vec_id").as("sid"), col("xq").as("sarr"))
    val gseeds = xq.filter(col("vec_id") < kcc * kcc)
      .select(col("vec_id").as("gid"), col("xq").as("garr"))
    val c0 = xq.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("xq").as("carr"))
    val pf0 = fineParents(c0, gseeds)
    val pg0 = superParents(pf0, gseeds, sseeds)
    // HOT-CELL SPLIT repair, run after EACH of the two Lloyd rounds
    // (VERDICT r8 #2, the standard kmeans empty-cluster repair):
    // `lloydUpdate` keeps only cells that received members, so fine cells
    // unreachable through the 4×4 probes die permanently and survivors run
    // hot (sfx100 measured cells-used 3299/6250, Σocc² 28.1M vs the
    // two-level rung's 14.3M — paid directly by every within-cell pair
    // join). Re-invest the dead cells' budget into the observed hot
    // regions: every cell with occupancy n ≥ 2·cellTarget spawns
    // min((n div cellTarget)−1, splitCap) extra seeds at members STRATIFIED
    // across its distance distribution — rank members by (dist DESC, vec_id) INSIDE
    // the cell (a partitioned window over thin rows, never a global sort)
    // and pick ranks j·step for step = n div (n div cellTarget),
    // j = 1..extra. Farthest-only picks were measured worse (sfx100 Σocc²
    // 26.6M): all seeds land on the boundary shell and the central mass
    // stays with the old centroid; spreading them across strata bisects
    // the mass. A SECOND repair round after round 1 measured WORSE (45.0M,
    // max occupancy 1720, vs 19.2M one-round): the extra Lloyd update
    // drifts centroids off the fixed seed lattice the probes route
    // through and orphans whole regions — reachability, not balance,
    // binds past one round, so the repair runs ONCE. cid = k + donor
    // vec_id (collision-free: original cids sit in [0, k)). The route
    // stays O(k^(1/3)) because the parent maps rebuild over the enlarged
    // fine table exactly as before. Deterministic, mirrored 1:1 in
    // kmeansThreeLevelCtes.
    def splitSeeds(asg: DataFrame, base: Long): DataFrame = {
      val occ = asg.groupBy("cid").agg(count(lit(1)).as("n"))
      asg.join(occ.filter(col("n") >= 2L * cellTarget), "cid")
        .withColumn("m", row_number().over(
          Window.partitionBy("cid").orderBy(col("dist").desc, col("vec_id"))))
        .filter(expr(s"m % (n div (n div $cellTarget)) = 0") &&
          expr(s"m div (n div (n div $cellTarget)) <= " +
            s"least((n div $cellTarget) - 1, $splitCap)"))
        .select("vec_id")
        .join(xq, "vec_id")
        .select((col("vec_id") + lit(base)).as("cid"), col("xq").as("carr"))
    }
    // each round's assignment feeds THREE consumers (Lloyd update,
    // occupancy count, split-donor selection) — persist the thin
    // (vec_id, cid, dist) frames so each routed assign runs once; each
    // cents table feeds two parent maps, a routing pass, and the
    // within-cell argmin — persist the ~k-row tables too.
    // TRUNCATE the round boundaries (DedupQueries.truncated, the
    // componentsOf pattern): a persisted frame's InMemoryRelation
    // keeps its child SparkPlan, and every plan-tree WALK
    // (SparkPlanInfo/treeString per executed query) expands those cached
    // subtrees as a TREE — with the split repair, c1 references a1 four
    // times (update + occupancy + donor rank + donor pick) and a2
    // references c1 through pf1/pg1/c1 again, so the walked node count
    // multiplies per level and the r9 bench run wedged the DRIVER for
    // 10+ minutes inside SparkPlanInfo.fromSparkPlan on exactly this
    // chain. Cutting a1 and c1 to LogicalRDD leaves bounds every
    // downstream plan at depth ~2; the data was being materialized here
    // anyway (both were persisted), so the only cost is a row re-encode
    // on k-row / thin-N-row frames. The checkpoint block sets go to the
    // fit so release() can free them (ADVICE r9).
    val (a1Cut, a1Ck) = DedupQueries.truncated(assignScaled(xq, pf0, pg0, sseeds))
    val a1 = a1Cut.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (c1Cut, c1Ck) = DedupQueries.truncated(
      lloydUpdate(a1, xq).unionByName(splitSeeds(a1, k)))
    val c1 = c1Cut.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pf1 = fineParents(c1, gseeds)
    val pg1 = superParents(pf1, gseeds, sseeds)
    ScaledFit(xq, sseeds, gseeds, c1, pf1, pg1,
      assignScaled(xq, pf1, pg1, sseeds), k,
      Seq(xq, a1, c1, pf0, pg0, pf1, pg1), a1Ck ++ c1Ck)
  }

  /** Fine→coarse parent map: every fine centroid's nearest coarse seed,
    * (gd, gid) tie order — (cid, gid, carr). k·kc·d work on k-row frames;
    * both sides broadcast-sized by construction. Persisted: each assign
    * consumes it twice (routing-table prune + within-cell candidate
    * build), and the k-row table must not recompute per consumer. */
  private def fineParents(cents: DataFrame, gseeds: DataFrame): DataFrame =
    cents.crossJoin(broadcast(gseeds)) // kc×d coarse-seed table
      .withColumn("gd", expr("vector_l2q(carr, garr)"))
      .groupBy("cid").agg(min(struct(col("gd"), col("gid"))).as("g"))
      .select(col("cid"), col("g.gid").as("gid"))
      .join(cents, "cid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Coarse→super parent map over the ROUTABLE (childful) coarse seeds:
    * every coarse seed holding ≥1 fine child under `pf` parents to its
    * nearest super seed, (sd, sid) tie order — (gid, sid, garr). This IS
    * the bottom-up routable propagation: pg's gid set = the childful
    * coarse seeds, pg's sid set = the routable supers (a super is routable
    * iff it has a routable coarse child). kc·kcc·d work on kcc²-row
    * frames; broadcast-sized by construction. Persisted: each assign
    * consumes it twice (super routing-table prune + coarse candidate
    * build). */
  private def superParents(pf: DataFrame, gseeds: DataFrame,
      sseeds: DataFrame): DataFrame =
    gseeds.join(pf.select("gid").distinct(), "gid")
      .crossJoin(broadcast(sseeds))
      .withColumn("sd", expr("vector_l2q(garr, sarr)"))
      .groupBy("gid").agg(min(struct(col("sd"), col("sid"))).as("m"))
      .select(col("gid"), col("m.sid").as("sid"))
      .join(gseeds, "gid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Super seeds that have at least one routable coarse child under `pg`
    * — the top routing table. Routing only against routable seeds
    * guarantees every vector's routed chain ends in fine candidates. */
  private def routableSupers(pg: DataFrame, sseeds: DataFrame): DataFrame =
    sseeds.join(pg.select("sid").distinct(), "sid")

  /** Probe widths inside the THREE-LEVEL assignment: each vector routes to
    * its [[assignSProbe]] nearest routable supers, then the
    * [[assignGProbe]] nearest coarse children across those supers, then
    * argmins over those seeds' fine children. SINGLE-probe routing
    * measured a DEGENERATE fit at 200k vectors: the reachable fine set per
    * vector shrinks to ~k^(1/3) ≈ 17 cells (vs the two-level rung's
    * ~√k ≈ 78), and because `lloydUpdate` emits only cells that received
    * round-0 members, unreachable cells die permanently — cells-used
    * collapsed 6180 → 1965, max occupancy 591 → 2448, Σocc² (the pair
    * join's work term) 14.3M → 102M, OOMing the production graph. 4×4
    * probes make the reachable set ~16·k^(1/3) ≈ 272 — wider than the
    * two-level rung's — while keeping every per-vector term O(k^(1/3)·d).
    * Also the per-layer fan-out join counts in the stream router. */
  private[llm] val assignSProbe = 4
  private[llm] val assignGProbe = 4

  /** THREE-LEVEL Lloyd assignment over PRE-BUILT parent maps: route each
    * (vec_id, xq) row to its nearest routable super seed (N·kcc·d), then
    * to that super's [[assignGProbe]] nearest coarse children
    * (N·(kc/kcc)·d avg, rank kept as a per-partition group limit), then
    * argmin over those seeds' fine children (N·gp·(k/kc)·d avg) —
    * O(N·k^(1/3)·d) total, every term kcc-sized. The super and fine
    * argmins are groupBy-min partial aggregates (corpus-sized frames
    * collapse map-side to one row per vector); the coarse top-gp is a
    * WindowGroupLimit over thin (vec_id, gid, gd) rows; the only
    * vector-sized exchanges are the vec_id joins re-attaching xq between
    * steps. Output: (vec_id, cid, dist), the same contract as the flat
    * assign. This is THE routing rule — the scaled PQ serve path and the
    * streaming maintenance router are bit-parity twins of it (same
    * (sd, sid) / (gd, gid) / (dist, cid) tie orders), so a query and the
    * fresh vector it is looking for can never route to different cells. */
  private[llm] def assignScaled(xq: DataFrame, pf: DataFrame, pg: DataFrame,
      sseeds: DataFrame): DataFrame = {
    val rs = xq.crossJoin(broadcast(routableSupers(pg, sseeds)))
      .select(col("vec_id"), col("sid"),
        expr("vector_l2q(xq, sarr)").as("sd"))
      .withColumn("srn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sd"), col("sid"))))
      .filter(col("srn") <= assignSProbe)
      .select("vec_id", "sid")
    val rg = xq.join(rs, "vec_id")
      .join(broadcast(pg.select(col("sid"), col("gid"), col("garr"))), "sid")
      .select(col("vec_id"), col("gid"),
        expr("vector_l2q(xq, garr)").as("gd"))
      .withColumn("grn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("gd"), col("gid"))))
      .filter(col("grn") <= assignGProbe)
      .select("vec_id", "gid")
    xq.join(rg, "vec_id")
      .join(broadcast(pf.select(col("gid"), col("cid"), col("carr"))), "gid")
      .withColumn("dist", expr("vector_l2q(xq, carr)"))
      .groupBy("vec_id").agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
  }

  /** [[kmeansLayer]] plus the learned centroid table `c1` the final
    * assignment ran against — the multi-probe graph routes against the
    * SAME centroids, so a vector's own cell is always its probe #1. */
  private def kmeansLayerFull(s: org.apache.spark.sql.SparkSession, d: String,
      k: Long = kmK.toLong)
      : (DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val xq = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr(s"vector_quantize(embedding, $kmScale)").as("xq")) // codegen: no per-element lambda on the corpus scan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c0 = xq.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("xq").as("carr"))
    // integer squared L2 — codegen'd primitive loop (the interpreted
    // zip_with/aggregate twin is property-tested equal in FunctionsSpec)
    val distExpr = "vector_l2q(xq, carr)"
    def assign(cents: DataFrame) = xq
      .crossJoin(broadcast(cents)) // k×d constant-size table — broadcast by construction
      .withColumn("dist", expr(distExpr))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
    val c1 = lloydUpdate(assign(c0), xq)
    (xq, c1, assign(c1))
  }

  /** Lloyd UPDATE step (Spark twin of [[lloydUpdateCtes]]): one posexplode
    * per-(cell, dim) integer-sum aggregate (map-side combined) → rounded-
    * mean centroid arrays. Shared by the fixed-k and scaled chains. */
  private def lloydUpdate(asg: DataFrame, xq: DataFrame): DataFrame = asg
    .join(xq, "vec_id")
    .select(col("cid"), posexplode(col("xq")).as(Seq("i", "v")))
    .groupBy("cid", "i").agg(sum("v").as("sv"), count(lit(1)).as("n"))
    .withColumn("cm", expr("cast(round(cast(sv as double) / n, 0) as bigint)"))
    .groupBy("cid")
    .agg(expr("transform(array_sort(collect_list(struct(i, cm))), p -> p.cm)").as("carr"))

  /** sim_knn_graph_multiprobe probe width: each vector's candidates come
    * from its [[knnNprobe]] nearest LEARNED cells (the sim_ivfpq nprobe
    * pattern applied to graph construction) instead of only its assigned
    * cell — the measured fix for the cell-boundary recall loss
    * (sim_knn_recall_kmeans = 0.325 at nprobe 1). */
  private val knnNprobe = 3

  /** Multi-probe kNN graph over LEARNED cells: route every vector to its
    * [[knnNprobe]] nearest c1 centroids, pair it with the members of each
    * probed cell (assignment is unique, so no pair dedup is needed), rank
    * by quantized L2. Scale shape: the routing is a k-row broadcast + one
    * row-local argtop-nprobe; the pair join is hash-partitioned on the
    * probed cell (never all-pairs) at nprobe× the single-probe row count;
    * ranking partitions by vec_id. UNORDERED — callers sort. */
  private def multiprobeKnnDF(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val (xq, c1, a2) = kmeansLayerFull(s, d)
    val mpW = Window.partitionBy("vec_id").orderBy(col("cdist"), col("cid"))
    val mp = xq
      .crossJoin(broadcast(c1)) // k×d constant-size centroid table
      .withColumn("cdist", expr("vector_l2q(xq, carr)"))
      .withColumn("rn", row_number().over(mpW))
      .filter(col("rn") <= knnNprobe)
      .select(col("vec_id"), col("cid").as("pcid"), col("xq"))
    mp.join(
        a2.select(col("cid").as("pcid"), col("vec_id").as("neighbor_id"))
          .join(xq.select(col("vec_id").as("neighbor_id"), col("xq").as("xqb")),
            "neighbor_id"),
        "pcid") // hash-partitioned on the probed cell — never all-pairs
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        expr("vector_l2q(xq, xqb)").as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id")))
        .cast("int"))
      .filter(col("rank") <= knnK)
  }

  /** Oracle CTEs extending [[kmeansCtes]] with the multi-probe graph:
    * `mpknn(vec_id, neighbor_id, rank, dist)`. */
  private lazy val multiprobeCtes: String = {
    val dC = duckL2q("x.xq", "c.carr", dims)
    val dN = duckL2q("m.xq", "b.xq", dims)
    s"""$kmeansCtes,
       |mp AS (
       |  SELECT vec_id, cid AS pcid, xq FROM (
       |    SELECT x.vec_id, c.cid, x.xq,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY $dC, c.cid) AS rn
       |    FROM xq x, c1 c
       |  ) WHERE rn <= $knnNprobe
       |),
       |mpairs AS (
       |  SELECT m.vec_id, a.vec_id AS neighbor_id, $dN AS dist
       |  FROM mp m JOIN a2 a ON a.cid = m.pcid AND a.vec_id <> m.vec_id
       |  JOIN xq b ON b.vec_id = a.vec_id
       |),
       |mpknn AS (
       |  SELECT vec_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS INT) AS rank,
       |    dist
       |  FROM mpairs
       |  QUALIFY rank <= $knnK
       |)""".stripMargin
  }

  /** Super cells probed per vector when selecting COARSE probe candidates
    * in the scaled multi-probe graph — the same boundary-coverage argument
    * as [[mpCoarse]] one layer up: a near-boundary vector's true coarse
    * seeds can parent to an adjacent super seed, so coarse candidates come
    * from the union of FOUR supers' children. Cost per vector stays
    * O(k^(1/3)·d) — kcc super distances + 4 coarse children sets ≈ 4·kcc
    * candidates. */
  private val mpSuper = 4

  /** Coarse cells probed per vector when SELECTING the fine probe cells in
    * the scaled multi-probe graph: ranking fine cells from the union of
    * TWELVE coarse cells' children keeps a near-boundary vector's true
    * neighbor cells in scope even when they parent to an adjacent coarse
    * seed. 12 coarse children sets ≈ 12·kcc fine candidates per vector —
    * still O(k^(1/3)). Widened 4→12 in round 9: the RecallProbe grid
    * showed probe SELECTION (not probe count) binds recall — at nc=4,
    * nprobe 10→14 moved recall@3 not at all (0.558→0.558) while nc alone
    * moved it 0.558→0.608→0.700→0.800 (nc=4/6/8/12); the adopted
    * (4, 12, 26) measures recall@3 = 0.800 at sf0.1 (VERDICT r8 #4). */
  private val mpCoarse = 12

  /** Fine cells probed per vector in the SCALED multi-probe graph. With
    * k ∝ N the cells are occupancy-~[[cellTarget]] — ~8× smaller than the
    * fixed k=8 cells at sf0.1 — so a natural cluster splits across several
    * cells and nprobe must cover that split: 3 probes measured recall@3 =
    * 0.29 where the fixed-k graph's 3-of-8 probes measured 0.66. 26 probes
    * ≈ 26·[[cellTarget]] = 832 candidates per vector — still CONSTANT per
    * vector as the corpus grows (the point of k ∝ N), and ~linear total
    * pair work. Widened 10→26 with [[mpCoarse]] 4→12 in round 9 (VERDICT
    * r8 #4): the RecallProbe curve at sf0.1 reads (nc=4,np=10) 0.558 →
    * (8,18) 0.700 → (10,22) 0.725 → (12,26) 0.800; the extra pair work is
    * the np ratio (2.6×), the route stays O(k^(1/3)) per vector. */
  private val mpScaledNprobe = 26

  /** Multi-probe kNN graph over the k ∝ N THREE-LEVEL cells — the
    * production composition (VERDICT r6 #2, r7 #2): [[kmeansScaledLayer]]
    * cells (constant occupancy at every corpus size) +
    * [[mpScaledNprobe]]-cell probing (the boundary-recall fix, widened for
    * the smaller cells). Probe selection rides the SAME super layer as the
    * assignment — rank the coarse children of the vector's [[mpSuper]]
    * nearest routable supers, keep [[mpCoarse]]; rank THOSE seeds' fine
    * children, keep the top [[mpScaledNprobe]] — so nothing in the chain
    * touches more than O(k^(1/3)) centroids per vector. The pair join
    * stays hash-partitioned on the probed cell (never all-pairs) at
    * ≤nprobe·[[cellTarget]] candidate rows per vector; assignment is
    * unique per member so no pair dedup exists anywhere. Windows run on
    * thin (id, id, dist) frames — vectors are re-attached by vec_id join
    * after each rank, never shuffled through a window. UNORDERED — callers
    * sort. */
  /** Layered multi-probe FINE-CELL selection over any (vec_id, xq) frame —
    * the probe router shared by the scaled graph and the wide re-rank
    * serve: rank the coarse children of the `nSuper` nearest routable
    * supers, keep `nCoarse`; rank those seeds' fine children, keep the top
    * `nprobe` — O(k^(1/3)) centroids touched per vector, every seed table
    * broadcast. Returns (vec_id, pcid). Probe #1 equals [[assignScaled]]'s
    * argmin cell whenever nSuper ≥ [[assignSProbe]] and nCoarse ≥
    * [[assignGProbe]] (same rule, same tie order, wider keeps). */
  private[llm] def multiprobeRouteDF(xq: DataFrame, sseeds: DataFrame,
      pg: DataFrame, pf: DataFrame, nSuper: Int, nCoarse: Int,
      nprobe: Int): DataFrame = {
    val msup = xq.crossJoin(broadcast(routableSupers(pg, sseeds)))
      .withColumn("sd", expr("vector_l2q(xq, sarr)"))
      .select(col("vec_id"), col("sid"), col("sd"))
      .withColumn("srn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sd"), col("sid"))))
      .filter(col("srn") <= nSuper)
      .select("vec_id", "sid")
    val mroute = msup.join(xq, "vec_id")
      .join(broadcast(pg.select(col("sid"), col("gid"), col("garr"))), "sid")
      .select(col("vec_id"), col("gid"),
        expr("vector_l2q(xq, garr)").as("gd"))
      .withColumn("grn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("gd"), col("gid"))))
      .filter(col("grn") <= nCoarse)
      .select("vec_id", "gid")
    mroute.join(xq, "vec_id")
      .join(broadcast(pf.select(col("gid"), col("cid"), col("carr"))), "gid")
      .select(col("vec_id"), col("cid"),
        expr("vector_l2q(xq, carr)").as("d"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d"), col("cid"))))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("cid").as("pcid"))
  }

  private[llm] def multiprobeKnnScaledDF(s: org.apache.spark.sql.SparkSession,
      d: String, nSuper: Int = mpSuper, nCoarse: Int = mpCoarse,
      nprobe: Int = mpScaledNprobe): DataFrame = {
    val fit = kmeansScaledLayer(s, d)
    val (xq, a2) = (fit.xq, fit.a2)
    // parent maps the final assign already built — reuse, don't re-persist
    // (ADVICE r7)
    val probes = multiprobeRouteDF(xq, fit.sseeds, fit.pg, fit.pf,
      nSuper, nCoarse, nprobe)
    probes.join(xq, "vec_id")
      .join(
        a2.select(col("cid").as("pcid"), col("vec_id").as("neighbor_id"))
          .join(xq.select(col("vec_id").as("neighbor_id"), col("xq").as("xqb")),
            "neighbor_id"),
        "pcid") // hash-partitioned on the probed cell — never all-pairs
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        expr("vector_l2q(xq, xqb)").as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id")))
        .cast("int"))
      .filter(col("rank") <= knnK)
  }

  /** Oracle CTEs extending [[kmeansThreeLevelCtes]] with the scaled
    * multi-probe graph: `mpknn(vec_id, neighbor_id, rank, dist)`. Probe
    * selection rides the super layer exactly as the Spark chain does. */
  private lazy val multiprobeScaledCtes: String = {
    def l2(a: String, b: String) = duckL2q(a, b, dims)
    s"""$kmeansThreeLevelCtes,
       |msup AS (
       |  SELECT vec_id, sid FROM (
       |    SELECT x.vec_id, s.sid, ${l2("x.xq", "s.sarr")} AS sd
       |    FROM xq x, sseeds s
       |    WHERE s.sid IN (SELECT sid FROM pg1)
       |  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sd, sid) <= $mpSuper
       |),
       |mroute AS (
       |  SELECT vec_id, gid FROM (
       |    SELECT x.vec_id, p.gid, ${l2("x.xq", "g.garr")} AS gd
       |    FROM xq x JOIN msup mt USING (vec_id)
       |      JOIN pg1 p ON p.sid = mt.sid
       |      JOIN gseeds g ON g.gid = p.gid
       |  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY gd, gid) <= $mpCoarse
       |),
       |mcand AS (
       |  SELECT x.vec_id, c.cid AS pcid, x.xq, ${l2("x.xq", "c.carr")} AS d
       |  FROM xq x JOIN mroute rt USING (vec_id)
       |    JOIN pf1 p ON p.gid = rt.gid
       |    JOIN c1r c ON c.cid = p.cid
       |),
       |mp AS (
       |  SELECT vec_id, pcid, xq FROM mcand
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, pcid) <= $mpScaledNprobe
       |),
       |mpairs AS (
       |  SELECT m.vec_id, a.vec_id AS neighbor_id, ${l2("m.xq", "b.xq")} AS dist
       |  FROM mp m JOIN a2 a ON a.cid = m.pcid AND a.vec_id <> m.vec_id
       |  JOIN xq b ON b.vec_id = a.vec_id
       |),
       |mpknn AS (
       |  SELECT vec_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS INT) AS rank,
       |    dist
       |  FROM mpairs
       |  QUALIFY rank <= $knnK
       |)""".stripMargin
  }

  /** Shared CTE chain ending in `dd(vec_id, label, d)` — every vector's
    * quantized-integer squared distance to its cell centroid (the
    * [[outScale]] grid); consumed by sim_outlier (z-test gate) and
    * sim_coverage (cluster-quality report). Also exposes `xq`/`cent`. */
  private lazy val cellDistCtes: String = {
    val dN = duckL2q("x.xq", "c.carr", LlmHash.dims)
    s"""xq AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * $outScale, 0) AS BIGINT)) AS xq
       |  FROM embeddings
       |),
       |sums AS (
       |  SELECT label, u.i,
       |    CAST(round(CAST(sum(xq[CAST(u.i AS INT)]) AS DOUBLE) / count(*), 0) AS BIGINT) AS cm
       |  FROM xq, unnest(generate_series(1, ${LlmHash.dims})) AS u(i)
       |  GROUP BY label, u.i
       |),
       |cent AS (SELECT label, list(cm ORDER BY i) AS carr FROM sums GROUP BY label),
       |dd AS (
       |  SELECT x.vec_id, x.label, $dN AS d
       |  FROM xq x JOIN cent c ON c.label = x.label
       |)""".stripMargin
  }

  /** Spark twin of [[cellDistCtes]]'s `dd`: (vec_id, label, d) with d the
    * codegen vector_l2q distance to the cell's rounded-mean centroid.
    * UNORDERED. One posexplode centroid aggregate (map-side combined),
    * k×d centroid broadcast, row-local distances — raw vectors never
    * shuffle. */
  /** `sim_silhouette` body over a raw (vec_id, embedding, label) frame —
    * UNORDERED, the query sorts. Rounded-mean centroids on the
    * [[outScale]] grid ([[cellDistDF]]'s contract), then every vector's
    * a (own centroid) / b (nearest other centroid) quantized-integer
    * distances in ONE row-local projection against the broadcast k×d
    * centroid table, folded map-side to k report rows. Requires
    * `GraftFunctions.register`. */
  private[llm] def silhouetteDF(emb: DataFrame): DataFrame = {
    val xq = emb.select(col("vec_id"), col("label"),
      expr(s"vector_quantize(embedding, $outScale)").as("xq"))
    val cent = xq
      .select(col("label"), posexplode(col("xq")).as(Seq("i", "v")))
      .groupBy("label", "i")
      .agg(expr("cast(round(cast(sum(v) as double) / count(*), 0) as bigint)").as("cm"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(i, cm))), p -> p.cm)").as("carr"))
    xq
      .crossJoin(broadcast(cent // k×d centroid table — constant-size by construction
        .select(col("label").as("clabel"), col("carr"))))
      .select(col("vec_id"), col("label"),
        expr("vector_l2q(xq, carr)").as("dist"), col("clabel"))
      .groupBy("vec_id", "label")
      .agg(min(when(col("clabel") === col("label"), col("dist"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
      .select(col("label"),
        expr("case when b < a then 1L else 0L end").as("misfit"),
        expr("case when greatest(a, b) = 0 then cast(0 as double) " +
          "else cast(b - a as double) / greatest(a, b) end").as("s"))
      .groupBy(col("label").as("cell"))
      .agg(count(lit(1)).as("n"), sum("misfit").as("n_misfit"),
        Q.exactAvg("s").as("mean_sil"))
  }

  private def cellDistDF(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val xq = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr(s"vector_quantize(embedding, $outScale)").as("xq"))
    val cent = xq
      .select(col("label"), posexplode(col("xq")).as(Seq("i", "v")))
      .groupBy("label", "i")
      .agg(expr("cast(round(cast(sum(v) as double) / count(*), 0) as bigint)").as("cm"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(i, cm))), p -> p.cm)").as("carr"))
    xq.join(broadcast(cent), "label") // k×d centroid table
      .withColumn("d", expr("vector_l2q(xq, carr)"))
      .select(col("vec_id"), col("label"), col("d"))
  }

  /** Spark twin of [[knnCtes]]'s `knn`: per-cell top-[[knnK]] neighbors by
    * quantized L2 (codegen vector_l2q), (dist, neighbor_id)-total-ordered.
    * UNORDERED — callers sort. The pair join is hash-partitioned on the
    * cell label, never all-pairs. */
  private def knnGraphDF(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val xq = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr(s"vector_quantize(embedding, $pqScale)").as("xq"))
    xq.select(col("label"), col("vec_id"), col("xq"))
      .join(xq.select(col("label"), col("vec_id").as("neighbor_id"), col("xq").as("xqb")),
        "label") // hash-partitioned on the cell — never all-pairs
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        expr("vector_l2q(xq, xqb)").as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id")))
        .cast("int"))
      .filter(col("rank") <= knnK)
  }

  /** Body of `sim_triangles` over any undirected (u, v) edge frame with
    * u < v — factored so the planted-graph spec drives the real wedge-close
    * chain. Emits one row per vector in `allVecs` (zeros for isolated
    * nodes): (vec_id, degree, n_triangles, clustering_coef). */
  private[graft] def trianglesOf(mutEdges: DataFrame, allVecs: DataFrame): DataFrame = {
    val mut = mutEdges
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // deg + 3 join legs
    val deg = mut.select(col("u").as("vec_id"))
      .unionByName(mut.select(col("v").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("degree"))
    // wedge a<b<c on the shared middle node, closed back onto the edge set
    val tri = mut.as("e1")
      .join(mut.as("e2"), col("e2.u") === col("e1.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
      .join(mut.as("e3"), col("a") === col("e3.u") && col("c") === col("e3.v"))
      .select("a", "b", "c")
    val pn = tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_triangles"))
    allVecs
      .join(deg, Seq("vec_id"), "left")
      .join(pn, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_coef",
        when(col("degree") >= 2,
          expr("(2.0D * n_triangles) / (degree * (degree - 1))"))
          .otherwise(lit(0.0)))
  }

  /** Shared sim_components_kmeans / sim_components_kmeans_staged oracle:
    * Lloyd chain → within-assigned-cell kNN → mutual edges → recursive
    * reachability components. (Lazy: safe to sit below [[all]].) */
  private lazy val kmComponentsOracle: String = kmComponentsOracleOver(kmeansCtes)

  /** The scaled-k twin's oracle — same chain over the k ∝ N THREE-LEVEL
    * Lloyd fit. */
  private lazy val kmComponentsScaledOracle: String =
    kmComponentsOracleOver(kmeansThreeLevelCtes)

  private def kmComponentsOracleOver(lloydCtes: String): String = {
    val dN = duckL2q("a.xq", "b.xq", dims)
    s"""WITH RECURSIVE $lloydCtes,
       |cv AS (SELECT a.vec_id, a.cid, x.xq FROM a2 a JOIN xq x USING (vec_id)),
       |kpairs AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id, $dN AS dist
       |  FROM cv a JOIN cv b ON b.cid = a.cid AND b.vec_id <> a.vec_id
       |),
       |krk AS (
       |  SELECT vec_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS INT) AS rank
       |  FROM kpairs
       |),
       |kknn AS (SELECT vec_id, neighbor_id FROM krk WHERE rank <= 3),
       |mut AS (
       |  SELECT x.vec_id AS d1, x.neighbor_id AS d2
       |  FROM kknn x JOIN kknn y
       |    ON y.vec_id = x.neighbor_id AND y.neighbor_id = x.vec_id
       |  WHERE x.vec_id < x.neighbor_id
       |),
       |csym AS (SELECT d1, d2 FROM mut UNION ALL SELECT d2 AS d1, d1 AS d2 FROM mut),
       |reach(dd, r) AS (
       |  SELECT d1, d1 FROM csym
       |  UNION
       |  SELECT s.d2, reach.r FROM reach JOIN csym s ON s.d1 = reach.dd
       |),
       |comp AS (SELECT dd AS vec_id, min(r) AS component_id FROM reach GROUP BY dd),
       |lab AS (
       |  SELECT e.vec_id, coalesce(c.component_id, e.vec_id) AS component_id
       |  FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
       |)
       |SELECT vec_id, component_id,
       |  CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS component_size
       |FROM lab ORDER BY vec_id""".stripMargin
  }

  /** Within-assigned-cell kNN → mutual components, over any (vec_id, cid)
    * assignment frame + kmScale-quantized vector table — the shared body
    * of the self-contained and staged kmeans-components queries. */
  private def kmComponentsFrom(s: org.apache.spark.sql.SparkSession, d: String,
      asg: DataFrame, xq: DataFrame, tag: String): DataFrame = {
    val cv = asg.select("vec_id", "cid").join(xq, "vec_id")
    val knn = cv.select(col("cid"), col("vec_id"), col("xq"))
      .join(cv.select(col("cid"), col("vec_id").as("neighbor_id"), col("xq").as("xqb")),
        "cid") // hash-partitioned on the ASSIGNED cell — never all-pairs
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        expr("vector_l2q(xq, xqb)").as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id")))
        .cast("int"))
      .filter(col("rank") <= 3)
    mutualComponentsDF(knn.select("vec_id", "neighbor_id"),
      Tables.embeddings(s, d).select("vec_id"), tag)
  }

  /** Stage the Lloyd ASSIGNMENT table (vec_id, cid) behind the
    * fingerprint-validated cross-session staging (the stageIvfCentroids
    * pattern): reuse on matching corpus content + algorithm constants,
    * recompute on any mismatch. */
  private[llm] def stageKmeansAssign(s: org.apache.spark.sql.SparkSession, d: String): String =
    StagedTable.getOrStage(s, d, StagedTable.Stage("km_asg", StagedTable.Vecs,
        s"km-asg-v1;dims=${LlmHash.dims};k=$kmK;scale=$kmScale")) { write =>
      val (_, a2) = kmeansLayer(s, d)
      write(a2.select(col("vec_id"), col("cid").cast("long").as("cid")))
    }

  /** [[stageKmeansAssign]] for the k ∝ N THREE-LEVEL fit: the scaled
    * assignment table (vec_id, cid) staged behind the same
    * fingerprint-validated cross-session machinery. The fingerprint pins
    * the algorithm version AND the re-fit law (cellTarget) — a corpus that
    * grew re-fingerprints (different N → different xor AND different k), so
    * a stale assignment can never serve a changed corpus.
    * km3l-asg-v3 = three-level + the CAPPED hot-cell split repair (VERDICT
    * r8 #2 + the r9 SplitCap guardrail): a checkout upgrading from the
    * uncapped v2 fit re-fingerprints and rebuilds. */
  private[llm] def stageKmeansScaledAssign(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    StagedTable.getOrStage(s, d, StagedTable.Stage("km2l_asg", StagedTable.Vecs,
        s"km3l-asg-v3;sp=$assignSProbe;gp=$assignGProbe;cap=$splitCap;dims=${LlmHash.dims};" +
          s"cellTarget=$cellTarget;scale=$kmScale")) { write =>
      // Cross-artifact adoption (SCALING r10): a VALID scaled PQ index
      // already carries this fit's assignment as its kind='member' rows —
      // the fit is deterministic and the pqs fingerprint pins a strict
      // SUPERSET of the km3l constants over the same corpus count+xor —
      // so a host that built the serve index never pays the fit twice
      // (48 min at 20M vectors). The sidecar check is byte-exact; any
      // mismatch falls through to the real fit.
      StagedTable.valid(s, d, pqsStage) match {
        case Some(idx) =>
          write(idx.filter(col("kind") === "member")
            .select(col("vec_id"), col("cid").cast("long").as("cid")))
        case None =>
          val fit = kmeansScaledLayer(s, d)
          write(fit.a2.select(col("vec_id"), col("cid").cast("long").as("cid")))
          fit.release() // staging materialized — frames AND checkpoint blocks (ADVICE r7/r9)
      }
    }

  /** Mutual-edge components shared by sim_components (label cells) and
    * sim_components_kmeans (learned cells): mutual filter (a ∈ knn(b) AND
    * b ∈ knn(a)) over any (vec_id, neighbor_id) edge frame, the audited
    * pointer-jumping machinery, singleton self-rooting, per-component
    * sizes. ORDERED by vec_id (the oracle contract of both queries). */
  private def mutualComponentsDF(knnEdges: DataFrame, allVecs: DataFrame,
      tag: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val knn = knnEdges.persist(StorageLevel.MEMORY_AND_DISK) // both sides of the mutual join
    val mut = knn.as("x")
      .join(knn.as("y"),
        col("y.vec_id") === col("x.neighbor_id") &&
          col("y.neighbor_id") === col("x.vec_id") &&
          col("x.vec_id") < col("x.neighbor_id"))
      .select(col("x.vec_id").as("d1"), col("x.neighbor_id").as("d2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val comp = DedupQueries.componentsOf(mut, tag)
      .select(col("node").as("vec_id"), col("lbl").as("component_id"))
    Seq(knn, mut).foreach(_.unpersist(blocking = false))
    allVecs
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component_id"), col("vec_id")).as("component_id"))
      .withColumn("component_size",
        count(lit(1)).over(Window.partitionBy("component_id")))
      .orderBy("vec_id")
  }

  /** sim_outlier quantization scale — coarse on purpose: the gate needs the
    * cell's distance distribution shape, and the coarse grid keeps the
    * z-test's squared-integer operands far inside the DECIMAL(38,0)
    * envelope at any cell size. */
  private val outScale = 100

  /** Codegen'd custom Expression (graft.functions.VectorDot): Catalyst's
    * higher-order `aggregate(zip_with(...))` form computes the identical
    * left-to-right sum but runs interpreted (two lambda calls per element,
    * boxed) — the native loop is the 100 TB shape. */
  private def sparkDot(a: String, b: String): String = s"vector_dot($a, $b)"

  /** (vec_id, v DOUBLE[], nrm) */
  private def vectors(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr(s"sqrt(${sparkDot("v", "v")})"))
  }

  private def topkOut(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Brute-force top-k DF (the sim_topk_cosine body — shared with the
    * recall harness). */
  private def bruteTopkDF(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val n = vectors(s, d)
    val q = n.filter(expr(querySel))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = n.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(sparkDot("qv", "v")) / (col("qn") * col("nrm"))).as("cos"))
    topkOut(scored)
  }

  private def bucketSparkExpr: String = (0 until nPlanes)
    .map(j => s"(CASE WHEN ${sparkDot("v", planeSpark(j))} > 0 THEN ${1 << j} ELSE 0 END)")
    .mkString(" + ")

  /** IVF coarse layer shared by sim_ivf and sim_twostage_ann: the
    * normalized labeled corpus `n` (vec_id, label, v, nrm) and the query
    * routing `asg` (query_id, qv, qn, probe_label) — each query sent to
    * its `nprobe` best cell centroids (one row per probed cell). The
    * centroid table is k-row (k = cells, ~sqrt(corpus) at scale) so its
    * broadcast is the allowed constant-bounded kind; centroid components
    * round to 4dp so parallel partial-avg order can't leak into the
    * oracle compare. */
  private def ivfLayer(s: org.apache.spark.sql.SparkSession,
      d: String, nprobe: Int = 1,
      centOpt: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val n = e.withColumn("nrm", expr(s"sqrt(${sparkDot("v", "v")})"))
    val cent = centOpt.getOrElse {
      val ex = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      ex.groupBy("label", "i").agg(round(avg("x"), 4).as("cm"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(i, cm))), p -> p.cm)").as("c"))
    }
    val asgW = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("probe_label"))
    val asg = n.filter(expr(querySel))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(cent.withColumnRenamed("label", "probe_label")))
      .withColumn("score",
        expr(s"${sparkDot("qv", "c")} / sqrt(${sparkDot("c", "c")})"))
      .withColumn("rn", row_number().over(asgW))
      .filter(col("rn") <= nprobe)
      .select("query_id", "qv", "qn", "probe_label")
    (n, asg)
  }

  /** Shared sim_ivf / sim_ivf_staged oracle: nprobe=1 routing + probed-cell
    * scoring + per-query top-k. */
  private lazy val ivfOracle: String =
    s"""WITH ${ivfRoutingCtes()},
       |s AS (
       |  SELECT a.query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(a.qv, c.v) / (a.qn * c.nrm) AS cos
       |  FROM asg a JOIN n c ON c.label = a.probe_label AND c.vec_id <> a.query_id
       |)
       |SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim
       |FROM s
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= $topK
       |ORDER BY query_id, neighbor_id""".stripMargin

  /** Probed-cell scoring + top-k over an [[ivfLayer]] pair — the sim_ivf
    * body, shared with the staged-index variant. */
  private def ivfTopk(n: DataFrame, asg: DataFrame): DataFrame = {
    val scored = n.join(broadcast(asg),
        col("label") === col("probe_label") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(sparkDot("qv", "v")) / (col("qn") * col("nrm"))).as("cos"))
    topkOut(scored)
  }

  /** Stage the IVF centroid table (label, c DOUBLE[]) cross-session under
    * a fingerprint of the routing constants + embedding content; returns
    * the catalog table name. `private[llm]` for the reuse spec. */
  private[llm] def stageIvfCentroids(s: org.apache.spark.sql.SparkSession, d: String): String =
    StagedTable.getOrStage(s, d, StagedTable.Stage("ivf_cent", StagedTable.Vecs,
        s"ivf-v1;dims=${LlmHash.dims};round=4")) { write =>
      val e = Tables.embeddings(s, d)
        .select(col("label"), col("embedding").cast("array<double>").as("v"))
      write(e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("label", "i").agg(round(avg("x"), 4).as("cm"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(i, cm))), p -> p.cm)").as("c")))
    }

  /** The sim_ivf centroid/routing CTEs, shared with sim_twostage_ann
    * (which widens `rn = 1` to its nprobe — see its oracle). */
  private def ivfRoutingCtes(nprobe: Int = 1): String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |ex AS (
       |  SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding::DOUBLE[]) AS x
       |  FROM embeddings
       |),
       |cent AS (
       |  SELECT label, list(cm ORDER BY i) AS c
       |  FROM (SELECT label, i, round(avg(x), 4) AS cm FROM ex GROUP BY label, i)
       |  GROUP BY label
       |),
       |asg AS (
       |  SELECT query_id, qv, qn, probe_label FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, cent.label AS probe_label,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.v, cent.c) / sqrt(list_dot_product(cent.c, cent.c)) DESC, cent.label) AS rn
       |    FROM n q, cent WHERE q.$querySel
       |  ) WHERE rn <= $nprobe
       |)""".stripMargin

  /** Sign-LSH ANN top-k DF (the sim_ann_lsh body — shared with the recall
    * harness). */
  private def annTopkDF(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val n = vectors(s, d).withColumn("bucket", expr(bucketSparkExpr))
    val q = n.filter(expr(querySel))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
    val scored = n.join(q,
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(sparkDot("qv", "v")) / (col("qn") * col("nrm"))).as("cos"))
    topkOut(scored)
  }

  /** SemDeDup body over any (vec_id, embedding, label) frame — factored so
    * specs can drive it with synthetic cells. Requires GraftFunctions
    * registered on the session. */
  private[llm] def semDedupDF(emb: DataFrame): DataFrame = {
    val n = emb
      .select(col("vec_id"), col("label").cast("long").as("cell"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr(s"sqrt(${sparkDot("v", "v")})"))
    val p = n.as("a")
      .join(n.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(expr(s"${sparkDot("a.v", "b.v")} / (a.nrm * b.nrm) >= $semTau"))
      .select(col("a.vec_id").as("keeper"), col("b.vec_id").as("dropped"))
    val k = p.groupBy(col("dropped").as("vec_id"))
      .agg(min("keeper").as("keeper_id"))
    n.select("vec_id", "cell")
      .join(k, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("keeper_id").isNull, 1).otherwise(0).cast("int").as("keep"),
        coalesce(col("keeper_id"), lit(-1L)).as("keeper_id"))
      .orderBy("vec_id")
  }

  private val exactCtes =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
       |  WHERE q.$querySel
       |)""".stripMargin

  // NB: must be initialized BEFORE `all` (object init order — a val
  // declared below `all` is still null while the Q SQL strings build)
  private val annCtes = {
    val bucketDuck = (0 until nPlanes)
      .map(j => s"(CASE WHEN list_dot_product(v, ${planeDuck(j)}) > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |    $bucketDuck AS bucket
       |  FROM e
       |),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.$querySel
       |)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    Q("sim_topk_cosine",
      s"""WITH $exactCtes
         |SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim
         |FROM s
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= $topK
         |ORDER BY query_id, neighbor_id""".stripMargin) { (s, d) =>
      bruteTopkDF(s, d)
    },

    // IVF (inverted-file) ANN — the second scale path: partition the corpus
    // into coarse cells (here the existing `label` column stands in for a
    // k-means assignment, as it would after a clustering job), compute each
    // cell's centroid, route each query to its nearest centroid (a 10-row
    // broadcast), and search ONLY that cell. The probe join is
    // hash-partitioned on the cell id; at 100 TB the centroid table stays
    // broadcast-sized (cells ~ sqrt(corpus)) and each query scans
    // |corpus|/cells vectors instead of |corpus|. Centroid components are
    // rounded to 4dp so parallel partial-avg summation order can't leak
    // into the oracle compare.
    Q("sim_ivf", ivfOracle) { (s, d) =>
      val (n, asg) = ivfLayer(s, d)
      ivfTopk(n, asg)
    },

    // IVF serving with a PERSISTED index — the deployment shape: the
    // centroid table (the IVF "index" — k×d, built in one corpus pass) is
    // staged cross-session under a content fingerprint (the L73 staged-
    // cluster machinery, generalized in graft.core.StagedTable), so a
    // fresh driver adopts the index files and pays ZERO corpus passes to
    // start routing queries. Identical results to sim_ivf by construction
    // — the SAME oracle gates both; a changed corpus invalidates the
    // fingerprint and rebuilds. At 100 TB this is the difference between
    // "every serving job re-aggregates the corpus" and "the index is
    // built once per corpus version".
    Q("sim_ivf_staged", ivfOracle) { (s, d) =>
      val cent = s.table(stageIvfCentroids(s, d))
      val (n, asg) = ivfLayer(s, d, 1, Some(cent))
      ivfTopk(n, asg)
    },

    // Embedding-cosine near-dup (the dedup family's vector method): pairs
    // in the SAME sign-LSH bucket with cosine >= 0.4, buckets capped at
    // maxBucket docs. The join key is the 8-bit bucket, never all-pairs;
    // recall is the LSH probability (the oracle runs the identical
    // algorithm, cap included).
    Q("dd_embed_cosine", {
      val bucketDuck = (0 until nPlanes)
        .map(j => s"(CASE WHEN list_dot_product(v, ${planeDuck(j)}) > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      // the bucket space is FIXED (2^nPlanes = 256), so occupancy grows
      // linearly with the corpus and the self-join quadratically — the
      // dd_simhash densification class. The maxBucket cap (mirrored here)
      // is the hard B·cap² ceiling; production also raises nPlanes with
      // the corpus, which this cap makes safe to forget.
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n0 AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
         |    $bucketDuck AS bucket
         |  FROM e
         |),
         |okb AS (SELECT bucket FROM n0 GROUP BY bucket HAVING count(*) <= ${DedupQueries.maxBucket}),
         |n AS (SELECT n0.* FROM n0 JOIN okb USING (bucket))
         |SELECT a.vec_id AS v1, b.vec_id AS v2,
         |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
         |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
         |ORDER BY v1, v2""".stripMargin
    }) { (s, d) =>
      val bucketSpark = (0 until nPlanes)
        .map(j => s"(CASE WHEN ${sparkDot("v", planeSpark(j))} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      // persist: the cap aggregate, the semi join, and both self-join
      // sides would otherwise each re-run the 9 vector_dot projections
      // (8 plane buckets + the norm) over the corpus — the simhash
      // lesson; consumers' clearCache releases it
      val n0 = vectors(s, d).withColumn("bucket", expr(bucketSpark))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ok = n0.groupBy("bucket").agg(count(lit(1)).as("bc"))
        .filter(col("bc") <= DedupQueries.maxBucket).select("bucket")
      val n = n0.join(ok, Seq("bucket"), "left_semi")
      n.as("a")
        .join(n.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos",
          expr(s"${sparkDot("a.v", "b.v")}") / (col("a.nrm") * col("b.nrm")))
        .filter(col("cos") >= 0.4)
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy("v1", "v2")
    },

    Q("sim_ann_lsh", {
      s"""WITH $annCtes
         |SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim
         |FROM s
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= $topK
         |ORDER BY query_id, neighbor_id""".stripMargin
    }) { (s, d) =>
      annTopkDF(s, d)
    },

    // k-means over the embedding space (Lloyd's algorithm, 2 iterations) —
    // the clustering pass behind IVF cell assignment and SemDeDup-style
    // semantic curation. Determinism across engines comes from QUANTIZING:
    // dims are scaled to integers (round(x·10⁴)), so per-cell per-dim sums
    // are EXACT (order-free — float partial-sum order can't leak into the
    // gate), and each centroid dim is one double division + round, the same
    // in both engines. Distances are integer sums of squares; ties break on
    // cluster id. Scale shape: assignment is a cross join against a k×d
    // centroid table (k constant → broadcast by construction); the update
    // is a (cell, dim) map-side-combined sum — the corpus is touched twice
    // per iteration and never shuffled whole.
    Q("sim_kmeans",
      s"""WITH $kmeansCtes
         |SELECT vec_id, cid AS cluster_id, dist FROM a2 ORDER BY vec_id""".stripMargin) {
      (s, d) =>
      val (_, a2) = kmeansLayer(s, d)
      a2.select(col("vec_id"), col("cid").as("cluster_id"), col("dist"))
        .orderBy("vec_id")
    },

    // EXTERNAL clustering-quality audit — purity of the k-means cells
    // against the corpus's known labels (the eval-subset audit a curation
    // team runs before trusting cluster-level decisions like SemDeDup or
    // cluster-balanced sampling: internal scores (sim_silhouette) say the
    // geometry is tight, purity says the geometry agrees with meaning).
    // One row per cluster: size, majority label (smallest label wins count
    // ties — deterministic both engines), majority count, and the purity
    // quotient emitted UNROUNDED (exact-integer division, the
    // tx_quality_score stance). Scale shape: rides the shared Lloyd
    // layer's assignment, then one (cid, label) map-side-combined count —
    // cluster-count-sized frames from there on; windows partition by cid
    // over ≤ |labels| rows each. In production the labeled subset is tiny
    // (an eval slice), so the audit costs one assignment pass over it.
    Q("sim_purity",
      s"""WITH $kmeansCtes,
         |lbl AS (SELECT vec_id, label FROM embeddings),
         |jc AS (
         |  SELECT cid, label, CAST(count(*) AS BIGINT) AS c
         |  FROM a2 JOIN lbl USING (vec_id) GROUP BY 1, 2
         |),
         |r AS (
         |  SELECT cid, label, c,
         |    row_number() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rn,
         |    sum(c) OVER (PARTITION BY cid) AS n
         |  FROM jc
         |)
         |SELECT cid AS cluster_id, CAST(n AS BIGINT) AS n_members,
         |  CAST(label AS BIGINT) AS majority_label, c AS n_majority,
         |  c * 1.0 / n AS purity
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val (_, a2) = kmeansLayer(s, d)
      val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val jc = a2.select("vec_id", "cid").join(lbl, "vec_id")
        .groupBy("cid", "label").agg(count("*").as("c"))
      val wC = Window.partitionBy("cid")
      jc.withColumn("rn", row_number().over(wC.orderBy(col("c").desc, col("label"))))
        .withColumn("n", sum("c").over(wC))
        .filter(col("rn") === 1)
        .select(col("cid").as("cluster_id"), col("n").cast("long").as("n_members"),
          col("label").cast("long").as("majority_label"), col("c").as("n_majority"),
          (col("c") * lit(1.0) / col("n")).as("purity"))
        .orderBy("cluster_id")
    },

    // SemDeDup (semantic dedup, Abbas et al. 2023): within each semantic
    // cluster, drop every vector that has a lower-id neighbor above the
    // cosine threshold — the embedding-space curation pass that removes
    // "different words, same meaning" redundancy exact dedup can't see.
    // The cell here is the `label` column (standing in for a k-means
    // assignment, as after a `sim_kmeans` job — same stance as sim_ivf).
    // Scale shape: the pair join is hash-partitioned on the cell id and
    // NEVER all-pairs; published SemDeDup picks k ∝ corpus size so cells
    // stay ~constant-sized (and a mega-cell can be subdivided by the
    // sign-LSH bucket, the dd_embed_cosine key, at a recall cost).
    // Threshold compares the raw double cosine — bit-identical across
    // engines per the VectorDot/list_dot_product congruence.
    Q("dd_semantic",
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |p AS (
         |  SELECT a.vec_id AS keeper, b.vec_id AS dropped
         |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $semTau
         |),
         |k AS (SELECT dropped AS vec_id, CAST(min(keeper) AS BIGINT) AS keeper_id FROM p GROUP BY dropped)
         |SELECT n.vec_id AS vec_id, CAST(n.label AS BIGINT) AS cell,
         |  CAST(CASE WHEN k.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep,
         |  coalesce(k.keeper_id, -1) AS keeper_id
         |FROM n LEFT JOIN k ON k.vec_id = n.vec_id
         |ORDER BY n.vec_id""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      semDedupDF(Tables.embeddings(s, d))
    },

    // IVF-PQ — the FAISS-shape ANN for corpora whose raw vectors don't fit
    // in memory: vectors are product-quantized into M=8 one-byte codes
    // (each subspace trained by its own k=16 Lloyd pass), queries route to
    // one coarse cell (IVF, the `label` column as in sim_ivf) and score
    // candidates through an asymmetric-distance LUT — sum of 8 table
    // lookups instead of a 64-dim dot product, against 8 bytes per vector
    // instead of 256. Everything is QUANTIZED-INTEGER (the sim_kmeans
    // stance): subvector distances, codebook training means (exact bigint
    // sum / exact count, one double division + round), the ADC sum — so
    // partial-agg order can't leak into the hash gate. Scale shape: the
    // codebook (M×k×8 ints) and per-query LUT (|Q|×M×k) are constant- or
    // query-batch-sized broadcasts; encoding is one broadcast join + a
    // map-side-combinable per-(vec, subspace) argmin; ADC touches only the
    // probed cell and shuffles |cell|×M LUT-joined rows to a per-pair sum.
    Q("sim_ivfpq", pqOracle) { (s, d) =>
      val (cb, codes, ccent, _) = pqBuildIndex(s, d)
      pqServe(s, d, cb, codes, ccent)
    },

    // IVF-PQ serving with a PERSISTED index (sim_ivf_staged's argument
    // applied to the FAISS shape): codebooks + 8-byte codes + coarse
    // centroids read from the fingerprinted stage; only routing, the
    // per-query LUT, and the probed cell's ADC run per query batch. Same
    // oracle as sim_ivfpq — identical results by construction.
    Q("sim_ivfpq_staged", pqOracle) { (s, d) =>
      val idx = s.table(stagePqIndex(s, d))
      pqServe(s, d,
        idx.filter(col("kind") === "cb").select("s", "cid", "carr"),
        idx.filter(col("kind") === "code").select("vec_id", "code"),
        idx.filter(col("kind") === "ccent").select("label", "carr"))
    },

    // IVF-PQ over the SCALED (k ∝ N, three-level) cells — the production
    // index+serve composition (VERDICT r7 #1): until round 8 the PQ
    // serving loop ran only against the FIXED label cells while the
    // production corpus fit was the scaled chain. Queries route LAYERED
    // (nearest routable super seed → nearest coarse child → argmin over
    // its fine children — the assignScaled rule, so a corpus-member
    // query's route IS its own assignment and the oracle's route CTE is
    // just a2 filtered), then the probed ~cellTarget-occupancy cell ranks
    // through the same ADC-LUT machinery as sim_ivfpq. Scale shape:
    // routing is O(k^(1/3)) broadcast distances per query (never all k
    // centroids), the probed cell is CONSTANT-sized by the k ∝ N
    // contract, and the corpus appears only as 8-byte codes.
    Q("sim_ivfpq_scaled", pqScaledOracle) { (s, d) =>
      val fit = kmeansScaledLayer(s, d)
      val (_, cb, codes, _) = pqBuildCodebooks(s, d)
      val queries = fit.xq.filter(expr(querySel))
        .select(col("vec_id").as("query_id"), col("xq"))
      pqServeQueriesScaled(s, cb, codes, fit.a2.select("vec_id", "cid"),
        fit.sseeds, fit.pf, fit.pg, queries, selfExclude = true,
        hintQueryBroadcast = false)
    },

    // The staged production face of the scaled IVF-PQ: codebooks, codes,
    // membership, super seeds and both parent maps persist as ONE
    // fingerprinted artifact (stagePqIndexScaled); per query batch only
    // layered routing, the LUT, and the probed cell's ADC run. Same
    // oracle — the staged index IS the computed one by fingerprint.
    Q("sim_ivfpq_scaled_staged", pqScaledOracle) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val idx = s.table(stagePqIndexScaled(s, d))
      val (cb, codes, members, sseeds, pf, pg) = scaledIndexFrames(idx)
      val queries = Tables.embeddings(s, d).filter(expr(querySel))
        .select(col("vec_id").as("query_id"),
          expr(s"vector_quantize(embedding, $kmScale)").as("xq"))
      pqServeQueriesScaled(s, cb, codes, members, sseeds, pf, pg,
        queries, selfExclude = true, hintQueryBroadcast = false)
    },

    // The WIDE re-rank serve tier over the staged scaled index (VERDICT r8
    // #4): multiprobe routing (the graph's router — probe #1 is the
    // single-cell serve's cell), ADC over the pooled probed members,
    // top-serveTopC shortlist, exact quantized re-rank of the shortlist
    // only. Recall is bounded by the probed cells' coverage (the graph
    // audit's number) instead of ONE cell's; the exact pass costs |Q|·C
    // distances — the sim_twostage prune-first shape on an IVF-PQ route.
    Q("sim_ivfpq_scaled_rerank", pqScaledRerankOracle) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val idx = s.table(stagePqIndexScaled(s, d))
      val (cb, codes, members, sseeds, pf, pg) = scaledIndexFrames(idx)
      val xqC = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(s"vector_quantize(embedding, $kmScale)").as("xq"))
      val queries = xqC.filter(expr(querySel))
        .select(col("vec_id").as("query_id"), col("xq"))
      pqServeQueriesScaledWide(s, cb, codes, members, sseeds, pf, pg,
        queries, xqC, selfExclude = true, hintQueryBroadcast = false)
    },

    // Two-stage retrieval (the Matryoshka / re-rank shape): a cheap coarse
    // pass scores every candidate on only the FIRST preDim=16 of 64 dims
    // (prefix-truncated embeddings carry most of the signal when trained
    // Matryoshka-style — and 4x less arithmetic + memory traffic per
    // candidate either way), keeps the top C=25 per query, then an exact
    // full-dimension pass re-ranks only those C. Everything is QUANTIZED-
    // INTEGER (the sim_kmeans stance) so both stages' rankings are exact —
    // partial order can't leak into the hash gate. Scale shape: stage 1's
    // window ranks NARROW (query, neighbor, dist) rows — the wide vectors
    // are NOT carried through the sort (the dd_minhash_lsh lesson); the
    // |Q|·C survivor table then joins BACK to the corpus for full vectors
    // (prune-first, AQE broadcasts the tiny side); stage 2 touches |Q|·C
    // vectors instead of |Q|·|corpus|. In production stage 1 is served by
    // any of the ANN paths (sim_ann_lsh / sim_ivf / sim_ivfpq); the prefix
    // scan here keeps the oracle exact.
    Q("sim_twostage", {
      s"""WITH xq AS (
         |  SELECT vec_id,
         |    list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * $pqScale, 0) AS BIGINT)) AS xq
         |  FROM embeddings
         |),
         |px AS (SELECT vec_id, xq, list_slice(xq, 1, $preDim) AS pre FROM xq),
         |q AS (SELECT vec_id AS query_id, xq AS qx, pre AS qpre FROM px WHERE $querySel),
         |s1 AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id, ${duckL2q("c.pre", "q.qpre", preDim)} AS cdist
         |  FROM px c, q WHERE c.vec_id <> q.query_id
         |  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY cdist, neighbor_id) <= $twoStageC
         |),
         |s2 AS (
         |  SELECT s1.query_id, s1.neighbor_id, s1.cdist, ${duckL2q("c.xq", "q.qx", LlmHash.dims)} AS fdist
         |  FROM s1 JOIN px c ON c.vec_id = s1.neighbor_id JOIN q ON q.query_id = s1.query_id
         |)
         |SELECT query_id, neighbor_id, cdist, fdist FROM s2
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY fdist, neighbor_id) <= $topK
         |ORDER BY query_id, neighbor_id""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val xq = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr(s"vector_quantize(embedding, $pqScale)").as("xq"))
        .withColumn("pre", expr(s"slice(xq, 1, $preDim)"))
      val q = xq.filter(expr(querySel))
        .select(col("vec_id").as("query_id"), col("xq").as("qx"), col("pre").as("qpre"))
      val w1 = Window.partitionBy("query_id").orderBy(col("cdist"), col("neighbor_id"))
      val s1 = xq.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          expr("vector_l2q(pre, qpre)").as("cdist"))
        .withColumn("rn", row_number().over(w1))
        .filter(col("rn") <= twoStageC)
        .select("query_id", "neighbor_id", "cdist")
      val w2 = Window.partitionBy("query_id").orderBy(col("fdist"), col("neighbor_id"))
      s1.join(xq.select(col("vec_id").as("neighbor_id"), col("xq")), "neighbor_id")
        .join(broadcast(q.select(col("query_id"), col("qx"))), "query_id")
        .withColumn("fdist", expr("vector_l2q(xq, qx)"))
        .withColumn("rn2", row_number().over(w2))
        .filter(col("rn2") <= topK)
        .select("query_id", "neighbor_id", "cdist", "fdist")
        .orderBy("query_id", "neighbor_id")
    },

    // Two-stage retrieval with an ANN stage 1 — the PRODUCTION shape that
    // retires sim_twostage's documented brute-force stand-in: stage 1 is
    // the multi-probe IVF router (each query probes its annNprobe best
    // cells — |corpus|·nprobe/cells candidates instead of |corpus|),
    // coarse-ranked on the same quantized preDim prefix; stage 2 is the
    // identical exact full-dim re-rank of the C survivors. Fully
    // deterministic (4dp centroids route, integer distances rank), so the
    // whole chain is hash-gated by the oracle running the same algorithm;
    // RECALL vs the exact sim_twostage is pinned in TwoStageAnnRecallSpec
    // (the sim_ann_recall stance). NB the synthetic embeddings are near-
    // uniform (measured: an exact top-5 neighbor lands in the query's cell
    // only ~18-20% of the time, for label cells AND true k-means cells
    // alike), so recall here tracks nprobe/cells — on clusterable real
    // embeddings the same plan's recall is far higher; the gate pins the
    // routing correctness and the measured floor for THIS data. Scale
    // shape: stage 1 joins equi on the cell id (never all-pairs), the
    // windows rank narrow rows, survivors join back for full vectors —
    // every piece already audited in sim_ivf / sim_twostage.
    Q("sim_twostage_ann", {
      s"""WITH ${ivfRoutingCtes(annNprobe)},
         |xq0 AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * $pqScale, 0) AS BIGINT)) AS xq
         |  FROM embeddings
         |),
         |px AS (SELECT vec_id, label, xq, list_slice(xq, 1, $preDim) AS pre FROM xq0),
         |qb AS (
         |  SELECT a.query_id, p.xq AS qx, p.pre AS qpre, a.probe_label
         |  FROM asg a JOIN px p ON p.vec_id = a.query_id
         |),
         |s1 AS (
         |  SELECT qb.query_id, c.vec_id AS neighbor_id, ${duckL2q("c.pre", "qb.qpre", preDim)} AS cdist
         |  FROM qb JOIN px c ON c.label = qb.probe_label AND c.vec_id <> qb.query_id
         |  QUALIFY row_number() OVER (PARTITION BY qb.query_id ORDER BY cdist, neighbor_id) <= $twoStageC
         |),
         |qd AS (SELECT DISTINCT query_id, qx FROM qb),
         |s2 AS (
         |  SELECT s1.query_id, s1.neighbor_id, s1.cdist, ${duckL2q("c.xq", "qd.qx", LlmHash.dims)} AS fdist
         |  FROM s1 JOIN px c ON c.vec_id = s1.neighbor_id JOIN qd ON qd.query_id = s1.query_id
         |)
         |SELECT query_id, neighbor_id, cdist, fdist FROM s2
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY fdist, neighbor_id) <= $topK
         |ORDER BY query_id, neighbor_id""".stripMargin
    }) { (s, d) =>
      val (_, asg) = ivfLayer(s, d, annNprobe)
      val xq = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          expr(s"vector_quantize(embedding, $pqScale)").as("xq"))
        .withColumn("pre", expr(s"slice(xq, 1, $preDim)"))
      // one row per (query, probed cell); cells are disjoint so a candidate
      // matches at most one probe row — no dedup needed in stage 1
      val q = asg.select("query_id", "probe_label")
        .join(xq.select(col("vec_id").as("query_id"), col("xq").as("qx"),
          col("pre").as("qpre")), "query_id")
      val w1 = Window.partitionBy("query_id").orderBy(col("cdist"), col("neighbor_id"))
      val s1 = xq.join(broadcast(q),
          col("label") === col("probe_label") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          expr("vector_l2q(pre, qpre)").as("cdist"))
        .withColumn("rn", row_number().over(w1))
        .filter(col("rn") <= twoStageC)
        .select("query_id", "neighbor_id", "cdist")
      val w2 = Window.partitionBy("query_id").orderBy(col("fdist"), col("neighbor_id"))
      s1.join(xq.select(col("vec_id").as("neighbor_id"), col("xq")), "neighbor_id")
        .join(broadcast(q.select(col("query_id"), col("qx")).distinct()), "query_id")
        .withColumn("fdist", expr("vector_l2q(xq, qx)"))
        .withColumn("rn2", row_number().over(w2))
        .filter(col("rn2") <= topK)
        .select("query_id", "neighbor_id", "cdist", "fdist")
        .orderBy("query_id", "neighbor_id")
    },

    // Embedding-distribution drift monitor — the vector-space counterpart
    // of tx_drift's token-KL: per semantic cell, how far did the centroid
    // move between two corpus slices (even vs odd vec_id standing in for
    // last-crawl vs this-crawl, the tx_drift stance)? A growing shift on a
    // cell is the "my embedding space moved under me" alarm that triggers
    // re-clustering/IVF retraining. Exactness is the sim_kmeans stance:
    // quantized-integer dims → exact per-(cell, slice, dim) BIGINT sums,
    // centroid = one double division + round back to integer, shift =
    // the codegen vector_l2q integer kernel — nothing order-fragile.
    // Scale shape: two map-side-combined aggregates over the corpus and
    // then cell-cardinality-sized math; no joins touch raw vectors.
    Q("sim_drift", {
      def dN(a: String, b: String) = duckL2q(a, b, LlmHash.dims)
      s"""WITH xq AS (
         |  SELECT vec_id, label, vec_id % 2 AS slice,
         |    list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * $pqScale, 0) AS BIGINT)) AS xq
         |  FROM embeddings
         |),
         |sums AS (
         |  SELECT label, slice, u.i,
         |    CAST(round(CAST(sum(xq[CAST(u.i AS INT)]) AS DOUBLE) / count(*), 0) AS BIGINT) AS cm,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM xq, unnest(generate_series(1, ${LlmHash.dims})) AS u(i)
         |  GROUP BY label, slice, u.i
         |),
         |cent AS (
         |  SELECT label, slice, list(cm ORDER BY i) AS carr, min(n) AS n
         |  FROM sums GROUP BY label, slice
         |)
         |SELECT a.label AS cell, a.n AS n_a, b.n AS n_b,
         |  ${dN("a.carr", "b.carr")} AS shift_sq,
         |  sqrt(CAST(${dN("a.carr", "b.carr")} AS DOUBLE)) / $pqScale AS shift
         |FROM cent a JOIN cent b ON b.label = a.label AND a.slice = 0 AND b.slice = 1
         |ORDER BY cell""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val xq = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), (col("vec_id") % 2).as("slice"),
          expr(s"vector_quantize(embedding, $pqScale)").as("xq"))
      val cent = xq
        .select(col("label"), col("slice"), posexplode(col("xq")).as(Seq("i", "v")))
        .groupBy("label", "slice", "i")
        .agg(expr("cast(round(cast(sum(v) as double) / count(*), 0) as bigint)").as("cm"),
          count(lit(1)).as("n"))
        .groupBy("label", "slice")
        .agg(expr("transform(array_sort(collect_list(struct(i, cm))), p -> p.cm)").as("carr"),
          min("n").as("n"))
      cent.filter(col("slice") === 0)
        .select(col("label").as("cell"), col("carr").as("ca"), col("n").as("n_a"))
        .join(cent.filter(col("slice") === 1)
          .select(col("label").as("cell"), col("carr").as("cb"), col("n").as("n_b")), "cell")
        .select(col("cell"), col("n_a"), col("n_b"),
          expr("vector_l2q(ca, cb)").as("shift_sq"),
          expr(s"sqrt(cast(vector_l2q(ca, cb) as double)) / $pqScale").as("shift"))
        .orderBy("cell")
    },

    // Embedding-space outlier gate — OOD/garbage-vector detection (the
    // curation question "which embeddings don't belong to their semantic
    // cell"): every vector's squared distance to its cell centroid is
    // scored against that CELL's own distance distribution with the
    // ev_anomaly integer z-test — (n·d − s1)² > 9(n·s2 − s1²), above-mean
    // only — so the 3σ gate has no sqrt/float boundary. All distances are
    // quantized-integer (scale 100 here: an outlier GATE needs the
    // distribution's shape, not 1e-4 precision) through the codegen
    // vector_l2q kernel; d² sums and the squared comparison run in
    // DECIMAL(38,0)/HUGEINT — exact, with headroom to n ~ 1e9 vectors per
    // cell (operands peak ~1e31 < 1e38). Every vector is emitted with its
    // distance and flag, so the full chain is hash-gated, not just the
    // tail. Scale shape: one posexplode centroid aggregate (map-side
    // combined), k×d centroid broadcast, row-local distances, cell-sized
    // stats join — raw vectors never shuffle.
    Q("sim_outlier", {
      s"""WITH $cellDistCtes,
         |st AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS s1,
         |    CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS s2
         |  FROM dd GROUP BY label
         |)
         |SELECT dd.vec_id, dd.label AS cell, dd.d AS dist,
         |  CAST(CASE WHEN st.n >= 3 AND CAST(st.n AS HUGEINT) * dd.d > st.s1
         |    AND (CAST(st.n AS HUGEINT) * dd.d - st.s1) * (CAST(st.n AS HUGEINT) * dd.d - st.s1)
         |        > 9 * (st.n * st.s2 - CAST(st.s1 AS HUGEINT) * st.s1)
         |    THEN 1 ELSE 0 END AS INT) AS is_outlier
         |FROM dd JOIN st USING (label)
         |ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      val dd = cellDistDF(s, d)
      val st = dd.groupBy("label")
        .agg(count(lit(1)).as("n"), sum("d").as("s1"),
          expr("sum(cast(d as decimal(38,0)) * d)").as("s2"))
      dd.join(st, "label")
        .select(col("vec_id"), col("label").as("cell"), col("d").as("dist"),
          expr("""cast(case when n >= 3 and cast(n as decimal(38,0)) * d > s1
            and (cast(n as decimal(38,0)) * d - s1) * (cast(n as decimal(38,0)) * d - s1)
                > 9 * (cast(n as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1)
            then 1 else 0 end as int)""").as("is_outlier"))
        .orderBy("vec_id")
    },

    // Cluster-coverage report — the per-cell quality summary behind "are
    // these clusters any good?" decisions (re-cluster triggers, cell-size
    // rebalancing, IVF nprobe tuning): each cell's population, its
    // distance floor/radius (min/max quantized-integer distance to the
    // centroid), total distortion (the k-means objective, exact integer
    // sum), and mean distortion as the one unrounded quotient. Rides the
    // shared cell-distance chain (sim_outlier's); everything after is a
    // cell-sized aggregate, so the report costs one centroid pass + one
    // row-local distance projection at any corpus size.
    Q("sim_coverage",
      s"""WITH $cellDistCtes
         |SELECT label AS cell,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(d) AS BIGINT) AS min_d,
         |  CAST(max(d) AS BIGINT) AS radius,
         |  CAST(sum(d) AS BIGINT) AS distortion,
         |  sum(d) * 1.0 / count(*) AS mean_d
         |FROM dd GROUP BY label
         |ORDER BY cell""".stripMargin) { (s, d) =>
      cellDistDF(s, d)
        .groupBy(col("label").as("cell"))
        .agg(count(lit(1)).as("n"), min("d").as("min_d"), max("d").as("radius"),
          sum("d").as("distortion"))
        .select(col("cell"), col("n"), col("min_d"), col("radius"), col("distortion"),
          expr("distortion * 1.0D / n").as("mean_d"))
        .orderBy("cell")
    },

    // Simplified (centroid-based) silhouette — the cluster-VALIDITY score
    // on top of sim_coverage's per-cell report: for every vector, a = its
    // quantized-integer L2 to its OWN cell centroid and b = the min over
    // the OTHER k−1 centroids; s = (b − a) / max(a, b) ∈ [−1, 1]
    // (Hruschka's O(n·k) surrogate for the O(n²) pairwise silhouette —
    // the only form that scales, since it touches no vector pair). The
    // per-cell report is (n, misfit count, mean s): the misfit flag is
    // the PURE INTEGER comparison b < a (a nearer foreign centroid — the
    // re-assignment candidates a curation pass would move or drop), so
    // no float boundary can flip it; s itself is one deterministic double
    // quotient of exact BIGINTs, and its mean accumulates as 6-dp scaled
    // longs (the exactAvg stance — addend-order-free). Scale shape: one
    // posexplode centroid aggregate (map-side combined), then a row-local
    // n×k distance projection against the k×d broadcast centroid table
    // folded map-side to k rows — raw vectors never shuffle, and the
    // whole report costs one corpus pass at any size.
    Q("sim_silhouette", {
      val dN = duckL2q("x.xq", "c.carr", LlmHash.dims)
      s"""WITH $cellDistCtes,
         |ab AS (
         |  SELECT x.vec_id, x.label,
         |    CAST(min(CASE WHEN c.label = x.label THEN $dN END) AS BIGINT) AS a,
         |    CAST(min(CASE WHEN c.label <> x.label THEN $dN END) AS BIGINT) AS b
         |  FROM xq x, cent c
         |  GROUP BY x.vec_id, x.label
         |),
         |sil AS (
         |  SELECT label,
         |    CASE WHEN b < a THEN 1 ELSE 0 END AS misfit,
         |    CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS DOUBLE)
         |         ELSE CAST(b - a AS DOUBLE) / greatest(a, b) END AS s
         |  FROM ab
         |)
         |SELECT label AS cell, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(misfit) AS BIGINT) AS n_misfit,
         |  ${Q.sqlExactAvg("s")} AS mean_sil
         |FROM sil GROUP BY label
         |ORDER BY cell""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      silhouetteDF(Tables.embeddings(s, d)).orderBy("cell")
    },

    // k-distance density report — the DBSCAN/OPTICS ε-selection signal
    // (and the density side of near-dup threshold tuning): per cell, the
    // distribution of every vector's distance to its knnK-th nearest
    // same-cell neighbor — the "k-distance plot" practitioners elbow-read
    // before picking a radius. Quantiles are DISCRETE rank selections
    // ((kdist, vec_id) total order — an actual element, never an
    // interpolated float), counts and distances are exact quantized
    // integers; `n_small` counts vectors with no k-th neighbor (cells
    // smaller than k+1 — their quantile slots are honestly NULL, not 0).
    // Scale shape: rides the sim_knn_graph per-cell pair join (the
    // SemDeDup k ∝ N regime keeps cells ~constant); everything after is
    // one narrow vec_id join and cell-partitioned windows over one row
    // per vector, collapsing map-side to k report rows.
    Q("sim_density",
      s"""WITH $knnCtes,
         |kd AS (SELECT vec_id, dist AS kdist FROM knn WHERE rank = $knnK),
         |lab AS (SELECT vec_id, label FROM xq),
         |celln AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM xq GROUP BY label),
         |drk AS (
         |  SELECT l.label, kd.kdist,
         |    row_number() OVER (PARTITION BY l.label ORDER BY kd.kdist, kd.vec_id) AS rn
         |  FROM kd JOIN lab l USING (vec_id)
         |),
         |dm AS (SELECT label, CAST(count(*) AS BIGINT) AS nk FROM drk GROUP BY label),
         |dq AS (
         |  SELECT drk.label,
         |    CAST(max(CASE WHEN rn = CAST(ceil(0.50 * nk) AS BIGINT) THEN kdist END) AS BIGINT) AS kdist_p50,
         |    CAST(max(CASE WHEN rn = CAST(ceil(0.90 * nk) AS BIGINT) THEN kdist END) AS BIGINT) AS kdist_p90,
         |    CAST(max(kdist) AS BIGINT) AS kdist_max
         |  FROM drk JOIN dm USING (label) GROUP BY drk.label
         |)
         |SELECT c.label AS cell, c.n,
         |  c.n - coalesce(dm.nk, 0) AS n_small,
         |  dq.kdist_p50, dq.kdist_p90, dq.kdist_max
         |FROM celln c LEFT JOIN dm ON dm.label = c.label LEFT JOIN dq ON dq.label = c.label
         |ORDER BY cell""".stripMargin) { (s, d) =>
      val kd = knnGraphDF(s, d).filter(col("rank") === knnK)
        .select(col("vec_id"), col("dist").as("kdist"))
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val celln = lab.groupBy("label").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("label").orderBy(col("kdist"), col("vec_id"))
      val rk = kd.join(lab, "vec_id")
        .withColumn("rn", row_number().over(w))
        .select("label", "kdist", "rn")
      val m = rk.groupBy("label").agg(count(lit(1)).as("nk"))
      val q = rk.join(m, "label").groupBy("label")
        .agg(
          max(when(col("rn") === expr("cast(ceil(0.50D * nk) as bigint)"), col("kdist")))
            .cast("long").as("kdist_p50"),
          max(when(col("rn") === expr("cast(ceil(0.90D * nk) as bigint)"), col("kdist")))
            .cast("long").as("kdist_p90"),
          max("kdist").as("kdist_max"))
      celln.join(m, Seq("label"), "left").join(q, Seq("label"), "left")
        .select(col("label").as("cell"), col("n"),
          expr("n - coalesce(nk, 0L)").as("n_small"),
          col("kdist_p50"), col("kdist_p90"), col("kdist_max"))
        .orderBy("cell")
    },

    // kNN-graph construction — the neighbor-graph precursor of SemDeDup /
    // graph clustering / diversity analysis: every vector's top-3 nearest
    // same-cell neighbors by quantized-integer L2 (codegen vector_l2q),
    // ranked with (dist, neighbor_id) total order so the graph is
    // hash-exact. Scale shape: the pair join is hash-partitioned on the
    // CELL and never all-pairs — per-cell work is O(|cell|²), and the
    // published SemDeDup regime (k ∝ N) keeps cells ~constant as the
    // corpus grows; the rank window partitions by vec_id (bounded by cell
    // size). Raw vectors ride exactly two narrow self-join sides.
    Q("sim_knn_graph",
      s"""WITH $knnCtes
         |SELECT vec_id, neighbor_id, rank, dist FROM knn
         |ORDER BY vec_id, rank""".stripMargin) { (s, d) =>
      knnGraphDF(s, d).orderBy("vec_id", "rank")
    },

    // kNN-graph recall audit — "what does the per-cell graph LOSE vs the
    // global truth?": the sim_ann_recall harness pattern applied to
    // sim_knn_graph's cell partition. For the 2% query sample, the EXACT
    // global top-3 (brute force over the whole corpus, quantized-integer
    // L2, (dist, neighbor_id) total order — the same order the graph
    // uses, so ties cannot blur the comparison) intersects the graph's
    // per-cell top-3; n_hit ∈ 0..3 per query is the audit row. This is
    // the number that justifies (or revokes) the SemDeDup k ∝ N cell
    // regime on a given corpus — a cell boundary that cuts true neighbor
    // links shows up here as n_hit < 3, exactly. Scale shape: brute
    // force runs ONLY for the sample (query batch broadcast — the
    // declared bounded build), the graph side is the shared per-cell
    // chain; the intersection joins two sample×3-sized rank lists.
    Q("sim_knn_recall", {
      val dNq = duckL2q("q.xq", "c.xq", LlmHash.dims)
      s"""WITH $knnCtes,
         |qs AS (SELECT vec_id, xq FROM xq WHERE $querySel),
         |bp AS (
         |  SELECT q.vec_id, c.vec_id AS neighbor_id, $dNq AS dist
         |  FROM qs q JOIN xq c ON c.vec_id <> q.vec_id
         |),
         |bt AS (
         |  SELECT vec_id, neighbor_id
         |  FROM bp
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) <= $knnK
         |),
         |gt AS (SELECT vec_id, neighbor_id FROM knn WHERE vec_id % 50 = 0),
         |hit AS (
         |  SELECT bt.vec_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM bt JOIN gt ON gt.vec_id = bt.vec_id AND gt.neighbor_id = bt.neighbor_id
         |  GROUP BY bt.vec_id
         |)
         |SELECT q.vec_id AS query_id, coalesce(h.n_hit, 0) AS n_hit
         |FROM qs q LEFT JOIN hit h ON h.vec_id = q.vec_id
         |ORDER BY query_id""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val xq = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          expr(s"vector_quantize(embedding, $pqScale)").as("xq"))
      val qs = xq.filter(expr(querySel)).select(col("vec_id").as("qid"), col("xq").as("qx"))
      val bt = xq.join(broadcast(qs), col("vec_id") =!= col("qid")) // 2% query batch
        .select(col("qid").as("vec_id"), col("vec_id").as("neighbor_id"),
          expr("vector_l2q(qx, xq)").as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id"))))
        .filter(col("rn") <= knnK)
        .select("vec_id", "neighbor_id")
      val gt = knnGraphDF(s, d).filter(expr(querySel))
        .select("vec_id", "neighbor_id")
      val hit = bt.join(gt, Seq("vec_id", "neighbor_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_hit"))
      xq.filter(expr(querySel)).select(col("vec_id").as("query_id"))
        .join(hit.withColumnRenamed("vec_id", "query_id"), Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .orderBy("query_id")
    },

    // The same recall audit over LEARNED cells — sim_knn_recall's paired
    // measurement: does re-clustering recover the neighbors the label
    // partition loses? Same sampled exact top-3, same total order, but
    // the graph side builds per KMEANS-assigned cell (the shared Lloyd
    // chain). Measured at sf0.1: label partition recall@3 = 0.058,
    // learned cells 0.325 (k=8, nprobe=1) — the SemDeDup re-cluster
    // decision as a 5.6x number instead of an argument (more cells +
    // multi-probe close the rest). Scale shape: identical to
    // sim_knn_recall plus the one-pass Lloyd fit (k×d broadcasts).
    Q("sim_knn_recall_kmeans", {
      val dN = duckL2q("a.xq", "b.xq", dims)
      val dNq = duckL2q("q.xq", "c.xq", dims)
      s"""WITH $kmeansCtes,
         |cv AS (SELECT a.vec_id, a.cid, x.xq FROM a2 a JOIN xq x USING (vec_id)),
         |kpairs AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id, $dN AS dist
         |  FROM cv a JOIN cv b ON b.cid = a.cid AND b.vec_id <> a.vec_id
         |),
         |kknn AS (
         |  SELECT vec_id, neighbor_id FROM kpairs
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) <= $knnK
         |),
         |qs AS (SELECT vec_id, xq FROM xq WHERE $querySel),
         |bp AS (
         |  SELECT q.vec_id, c.vec_id AS neighbor_id, $dNq AS dist
         |  FROM qs q JOIN xq c ON c.vec_id <> q.vec_id
         |),
         |bt AS (
         |  SELECT vec_id, neighbor_id FROM bp
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) <= $knnK
         |),
         |gt AS (SELECT vec_id, neighbor_id FROM kknn WHERE vec_id % 50 = 0),
         |hit AS (
         |  SELECT bt.vec_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM bt JOIN gt ON gt.vec_id = bt.vec_id AND gt.neighbor_id = bt.neighbor_id
         |  GROUP BY bt.vec_id
         |)
         |SELECT q.vec_id AS query_id, coalesce(h.n_hit, 0) AS n_hit
         |FROM qs q LEFT JOIN hit h ON h.vec_id = q.vec_id
         |ORDER BY query_id""".stripMargin
    }) { (s, d) =>
      val (xq, a2) = kmeansLayer(s, d)
      val cv = a2.select("vec_id", "cid").join(xq, "vec_id")
      val gt = cv.select(col("cid"), col("vec_id"), col("xq"))
        .join(cv.select(col("cid"), col("vec_id").as("neighbor_id"), col("xq").as("xqb")), "cid")
        .filter(col("neighbor_id") =!= col("vec_id"))
        .select(col("vec_id"), col("neighbor_id"), expr("vector_l2q(xq, xqb)").as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id"))))
        .filter(col("rn") <= knnK && col("vec_id") % 50 === 0)
        .select("vec_id", "neighbor_id")
      val qs = xq.filter(expr(querySel)).select(col("vec_id").as("qid"), col("xq").as("qx"))
      val bt = xq.join(broadcast(qs), col("vec_id") =!= col("qid")) // 2% query batch
        .select(col("qid").as("vec_id"), col("vec_id").as("neighbor_id"),
          expr("vector_l2q(qx, xq)").as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id"))))
        .filter(col("rn") <= knnK)
        .select("vec_id", "neighbor_id")
      val hit = bt.join(gt, Seq("vec_id", "neighbor_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_hit"))
      xq.filter(expr(querySel)).select(col("vec_id").as("query_id"))
        .join(hit.withColumnRenamed("vec_id", "query_id"), Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .orderBy("query_id")
    },

    // MULTI-PROBE kNN graph over learned cells — the measured fix for the
    // cell-boundary recall loss the two audits above quantify (label cells
    // 0.058, learned cells 0.325 at nprobe 1): every vector's candidate
    // set is the UNION of its 3 nearest learned cells (the sim_ivfpq
    // nprobe routing applied to graph construction), so a true neighbor
    // just across the assigned cell's boundary is back in scope. Scale
    // shape: routing is the k-row centroid broadcast + a row-local
    // argtop-3; the pair join stays hash-partitioned on the PROBED cell
    // (never all-pairs) at 3x the single-probe candidate rows; assignment
    // is unique per member so no pair dedup exists anywhere.
    Q("sim_knn_graph_multiprobe",
      s"""WITH $multiprobeCtes
         |SELECT vec_id, neighbor_id, rank, dist FROM mpknn
         |ORDER BY vec_id, rank""".stripMargin) { (s, d) =>
      multiprobeKnnDF(s, d).orderBy("vec_id", "rank")
    },

    // Recall audit for the multi-probe graph — the third point on the
    // recall curve (label cells -> learned cells -> learned cells with
    // multi-probe), same sampled exact-top-3 harness and total order as
    // sim_knn_recall / sim_knn_recall_kmeans, so the three numbers are
    // directly comparable. Measured at sf0.1: 0.058 -> 0.325 -> >= 0.5
    // (floor asserted by MultiprobeRecallSpec).
    Q("sim_knn_recall_multiprobe", {
      val dNq = duckL2q("q.xq", "c.xq", dims)
      s"""WITH $multiprobeCtes,
         |qs AS (SELECT vec_id, xq FROM xq WHERE $querySel),
         |bp AS (
         |  SELECT q.vec_id, c.vec_id AS neighbor_id, $dNq AS dist
         |  FROM qs q JOIN xq c ON c.vec_id <> q.vec_id
         |),
         |bt AS (
         |  SELECT vec_id, neighbor_id FROM bp
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) <= $knnK
         |),
         |gt AS (SELECT vec_id, neighbor_id FROM mpknn WHERE vec_id % 50 = 0),
         |hit AS (
         |  SELECT bt.vec_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM bt JOIN gt ON gt.vec_id = bt.vec_id AND gt.neighbor_id = bt.neighbor_id
         |  GROUP BY bt.vec_id
         |)
         |SELECT q.vec_id AS query_id, coalesce(h.n_hit, 0) AS n_hit
         |FROM qs q LEFT JOIN hit h ON h.vec_id = q.vec_id
         |ORDER BY query_id""".stripMargin
    }) { (s, d) =>
      val gt = multiprobeKnnDF(s, d).filter(expr(querySel))
        .select("vec_id", "neighbor_id")
      val (xq, _) = kmeansLayer(s, d)
      val qs = xq.filter(expr(querySel)).select(col("vec_id").as("qid"), col("xq").as("qx"))
      val bt = xq.join(broadcast(qs), col("vec_id") =!= col("qid")) // 2% query batch
        .select(col("qid").as("vec_id"), col("vec_id").as("neighbor_id"),
          expr("vector_l2q(qx, xq)").as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id"))))
        .filter(col("rn") <= knnK)
        .select("vec_id", "neighbor_id")
      val hit = bt.join(gt, Seq("vec_id", "neighbor_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_hit"))
      xq.filter(expr(querySel)).select(col("vec_id").as("query_id"))
        .join(hit.withColumnRenamed("vec_id", "query_id"), Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .orderBy("query_id")
    },

    // PageRank over the kNN graph — the importance/centrality layer on top
    // of sim_knn_graph: which vectors sit at the semantic CORE of their
    // cell (high in-link mass from mutual nearest neighbors) vs the
    // periphery. Feeds coverage-weighted sampling and diverse-subset
    // selection (keep the periphery, downweight the redundant core).
    // Exact INTEGER power iteration so both engines agree bitwise: ranks
    // are permicro longs (node mass 1e6), each of the $prIters rounds is
    //   r'(v) = 150000 + Σ_{u→v} (r(u)·850) intdiv (1000·outdeg(u))
    // — damping 0.85 with floor division on both sides (positive operands,
    // so Spark's truncating `div` and DuckDB's flooring `//` agree);
    // dangling-node mass is dropped identically in both engines.
    //
    // Scale shape: one edge table (|V|·k rows of three longs) persisted
    // with its out-degree join; each round is a hash join on src + a
    // map-side-combined sum on dst + a node-sized left join — O(E) per
    // round, raw vectors touched only in the one-time kNN build. Rank
    // values stay < 1e6·|V|·0.85, so r·850 fits a long through |V| ~ 1e9.
    Q("sim_pagerank", {
      val iters = (1 to prIters).map { i =>
        s"""c$i AS (
           |  SELECT e.neighbor_id AS vec_id,
           |    CAST(sum((r.r * 850) // (1000 * dg.deg)) AS BIGINT) AS contrib
           |  FROM knn e JOIN deg dg ON dg.src = e.vec_id JOIN r${i - 1} r ON r.vec_id = e.vec_id
           |  GROUP BY e.neighbor_id
           |),
           |r$i AS (
           |  SELECT n.vec_id, CAST(150000 + coalesce(c.contrib, 0) AS BIGINT) AS r
           |  FROM n0 n LEFT JOIN c$i c ON c.vec_id = n.vec_id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $knnCtes,
         |deg AS (SELECT vec_id AS src, CAST(count(*) AS BIGINT) AS deg FROM knn GROUP BY vec_id),
         |n0 AS (SELECT vec_id FROM xq),
         |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS r FROM n0),
         |$iters
         |SELECT vec_id, r AS pagerank FROM r$prIters ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      // persist the edge list FIRST: the out-degree aggregate and the join
      // probe side would otherwise each replay the kNN build chain
      val edges = knnGraphDF(s, d).select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      // (src, dst, deg) — the loop's constant operand; persisted so the 5
      // rounds re-read three longs per edge, not the kNN build chain
      val esd = edges.join(deg, "src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = Tables.embeddings(s, d).select("vec_id")
      var r = nodes.withColumn("r", lit(1000000L))
      for (_ <- 1 to prIters) {
        val contrib = esd
          .join(r.select(col("vec_id").as("src"), col("r").as("rs")), "src")
          .select(col("dst").as("vec_id"), expr("(rs * 850) div (1000 * deg)").as("c"))
          .groupBy("vec_id").agg(sum("c").as("contrib"))
        r = nodes.join(contrib, Seq("vec_id"), "left")
          .select(col("vec_id"),
            (lit(150000L) + coalesce(col("contrib"), lit(0L))).as("r"))
      }
      r.select(col("vec_id"), col("r").as("pagerank")).orderBy("vec_id")
    },

    // Graph-density audit — triangle counts + local clustering coefficient
    // over the MUTUAL kNN graph (the sim_components edge set): how
    // tightly does each vector's neighborhood interconnect? High
    // coefficient = genuine semantic cluster; low = hub/chain artifact —
    // the readout that separates the two BEFORE trusting component-based
    // dedup decisions. Shape is the canonical distributed triangle count:
    // wedges from an equi-join of the edge list on its middle node, closed
    // by a second equi-join back to the edge list — with a<b<c ordering so
    // each triangle materializes exactly once. Mutual degree ≤ k caps
    // wedges at |V|·k² rows; everything is hash-partitioned equi-joins,
    // never all-pairs. Coefficient = 2T/(deg·(deg−1)) as one exact-integer
    // multiply then one double division (unrounded, the house quotient
    // stance); degree < 2 pins 0.
    Q("sim_triangles",
      s"""WITH $knnCtes,
         |mut AS (
         |  SELECT x.vec_id AS u, x.neighbor_id AS v
         |  FROM knn x JOIN knn y ON y.vec_id = x.neighbor_id
         |    AND y.neighbor_id = x.vec_id AND x.vec_id < x.neighbor_id
         |),
         |deg AS (
         |  SELECT vec_id, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT u AS vec_id FROM mut UNION ALL SELECT v AS vec_id FROM mut
         |  ) GROUP BY 1
         |),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM mut e1
         |  JOIN mut e2 ON e2.u = e1.v
         |  JOIN mut e3 ON e3.u = e1.u AND e3.v = e2.v
         |),
         |pn AS (
         |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
         |    SELECT a AS vec_id FROM tri
         |    UNION ALL SELECT b AS vec_id FROM tri
         |    UNION ALL SELECT c AS vec_id FROM tri
         |  ) GROUP BY 1
         |)
         |SELECT x.vec_id, coalesce(deg.degree, 0) AS degree,
         |  coalesce(pn.n_triangles, 0) AS n_triangles,
         |  CASE WHEN coalesce(deg.degree, 0) >= 2
         |       THEN (2.0 * coalesce(pn.n_triangles, 0)) / (deg.degree * (deg.degree - 1))
         |       ELSE 0.0 END AS clustering_coef
         |FROM xq x
         |LEFT JOIN deg ON deg.vec_id = x.vec_id
         |LEFT JOIN pn ON pn.vec_id = x.vec_id
         |ORDER BY x.vec_id""".stripMargin) { (s, d) =>
      val knn = knnGraphDF(s, d).select("vec_id", "neighbor_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mut = knn.as("x")
        .join(knn.as("y"),
          col("y.vec_id") === col("x.neighbor_id") &&
            col("y.neighbor_id") === col("x.vec_id") &&
            col("x.vec_id") < col("x.neighbor_id"))
        .select(col("x.vec_id").as("u"), col("x.neighbor_id").as("v"))
      trianglesOf(mut, Tables.embeddings(s, d).select("vec_id"))
        .orderBy("vec_id")
    },

    // Recall@k harness — the evaluation query every ANN deployment needs:
    // per query point, |ANN top-k ∩ exact top-k| / k. Joins the two (tiny,
    // |queries|×k) result sets; all the heavy lifting happens in the two
    // pipelines it measures. The oracle recomputes both with the identical
    // algorithms, so the measured recall itself is hash-gated.
    Q("sim_ann_recall", {
      val exact2 =
        s"""e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |n2 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e2),
           |s2 AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
           |  FROM n2 q JOIN n2 c ON c.vec_id <> q.vec_id
           |  WHERE q.$querySel
           |)""".stripMargin
      s"""WITH $annCtes,
         |$exact2,
         |ann_k AS (
         |  SELECT query_id, neighbor_id FROM s
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= $topK
         |),
         |exact_k AS (
         |  SELECT query_id, neighbor_id FROM s2
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= $topK
         |)
         |SELECT e.query_id,
         |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
         |  CAST(count(*) AS BIGINT) AS k,
         |  round(count(a.neighbor_id) * 1.0 / count(*), 4) AS recall
         |FROM exact_k e
         |LEFT JOIN ann_k a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    }) { (s, d) =>
      val exact = bruteTopkDF(s, d).select("query_id", "neighbor_id")
      val ann = annTopkDF(s, d).select("query_id", "neighbor_id")
        .withColumn("hit", lit(1))
      exact.join(ann, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"),
          count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hit"), col("k"),
          expr("round(n_hit * 1.0D / k, 4)").as("recall"))
        .orderBy("query_id")
    },

    // Semantic cluster extraction — connected components over the MUTUAL
    // kNN graph (a ∈ knn(b) AND b ∈ knn(a) — the standard graph-clustering
    // edge choice: mutual edges cut the hub-induced chaining that plain
    // kNN components suffer), run through the SAME audited pointer-jumping
    // machinery as the near-dup components (DedupQueries.componentsOf —
    // O(log diameter) rounds, driver-control only). Vectors with no
    // mutual neighbor are self-rooted singletons. The cluster table feeds
    // diversity sampling / per-cluster caps exactly like dd_clusters
    // feeds dedup. Scale shape: the kNN build is the audited per-cell
    // join; mutual filtering is a self-join of the |V|·k edge table on
    // the reversed key; the component window partitions by component.
    Q("sim_components",
      s"""WITH RECURSIVE $knnCtes,
         |mut AS (
         |  SELECT x.vec_id AS d1, x.neighbor_id AS d2
         |  FROM knn x JOIN knn y
         |    ON y.vec_id = x.neighbor_id AND y.neighbor_id = x.vec_id
         |  WHERE x.vec_id < x.neighbor_id
         |),
         |csym AS (SELECT d1, d2 FROM mut UNION ALL SELECT d2 AS d1, d1 AS d2 FROM mut),
         |reach(dd, r) AS (
         |  SELECT d1, d1 FROM csym
         |  UNION
         |  SELECT s.d2, reach.r FROM reach JOIN csym s ON s.d1 = reach.dd
         |),
         |comp AS (SELECT dd AS vec_id, min(r) AS component_id FROM reach GROUP BY dd),
         |lab AS (
         |  SELECT e.vec_id, coalesce(c.component_id, e.vec_id) AS component_id
         |  FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
         |)
         |SELECT vec_id, component_id,
         |  CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS component_size
         |FROM lab ORDER BY vec_id""".stripMargin) { (s, d) =>
      mutualComponentsDF(knnGraphDF(s, d).select("vec_id", "neighbor_id"),
        Tables.embeddings(s, d).select("vec_id"), "sim_components")
    },

    // sim_components over LEARNED cells — the production k ∝ N shape: the
    // kNN graph is built per kmeans-assigned cell (the sim_kmeans Lloyd
    // chain) instead of the corpus's label column, so cell geometry comes
    // from the data and re-fitting k as the corpus grows keeps per-cell
    // pair work constant — the SemDeDup regime the label-cell variant can
    // only document. Same mutual filter, same audited component machinery,
    // same output contract. Scale shape: the Lloyd chain is two broadcast
    // assigns + one posexplode centroid aggregate; the per-cell pair join
    // is hash-partitioned on the ASSIGNED cell.
    Q("sim_components_kmeans", kmComponentsOracle) { (s, d) =>
      val (xq, a2) = kmeansLayer(s, d)
      kmComponentsFrom(s, d, a2.select("vec_id", "cid"), xq, "sim_components_kmeans")
    },

    // The staged production face of sim_components_kmeans: the Lloyd
    // assignment table persists once per corpus version behind the SAME
    // fingerprint-validated staging as the IVF/PQ indexes (content hash +
    // algorithm constants — a changed corpus or constant recomputes, a
    // matching one reuses across sessions), and the per-run cost is the
    // knn-within-cell + components chain only. Same oracle: the Lloyd
    // chain is deterministic, so the staged assignment IS the computed
    // one. (The self-contained twin stays in the suite and pays the
    // honest full price — the llm_corpus_prep/staged precedent.)
    Q("sim_components_kmeans_staged", kmComponentsOracle) { (s, d) =>
      val table = stageKmeansAssign(s, d)
      graft.functions.GraftFunctions.register(s)
      val xq = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(s"vector_quantize(embedding, $kmScale)").as("xq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kmComponentsFrom(s, d, s.table(table), xq, "sim_components_kmeans_staged")
    },

    // The k ∝ N re-fit EXECUTED (not documented): k = max(8, N/32) cells
    // from one corpus count, so expected cell OCCUPANCY stays ~32 at every
    // corpus size — the SemDeDup/IVF production contract the fixed-k
    // sim_kmeans can only state in prose. Quantized integers, (dist, cid)
    // tie order; the oracle computes the identical k as a scalar subquery.
    // At sf0.01 the re-fit is already observable (500 vectors -> 15 cells
    // vs the fixed 8). Assignment is THREE-LEVEL since round 8 (route via
    // kcc = ceil-integer-cbrt(k) super seeds, then that super's coarse
    // children, then argmin within the routed coarse seed's fine children
    // — the sim_ivfpq coarse-routing shape applied to Lloyd itself, one
    // layer deeper than round 7's two-level rung whose O(N·√k·d) assign
    // re-measured super-linear at auto partitions): every per-vector term
    // is k^(1/3).
    Q("sim_kmeans_scaled",
      s"""WITH $kmeansThreeLevelCtes
         |SELECT vec_id, cid AS cluster_id, dist FROM a2 ORDER BY vec_id""".stripMargin) {
      (s, d) =>
      kmeansScaledLayer(s, d).a2
        .select(col("vec_id"), col("cid").as("cluster_id"), col("dist"))
        .orderBy("vec_id")
    },

    // Semantic components under the k ∝ N re-fit — the query that PROVES
    // the scaled contract's point: with cell occupancy pinned at ~32, the
    // within-cell kNN pair join does constant work PER CELL and linear
    // work TOTAL as the corpus grows (SCALING.md measures the slices),
    // where the fixed-k twin's per-cell pairs grow quadratically. Same
    // mutual filter, same audited pointer-jump component machinery, same
    // output contract as sim_components_kmeans; the Lloyd fit is the
    // three-level-assigned scaled layer, so EVERY stage of this chain is
    // now sub-quadratic in N.
    Q("sim_components_kmeans_scaled", kmComponentsScaledOracle) { (s, d) =>
      val fit = kmeansScaledLayer(s, d)
      kmComponentsFrom(s, d, fit.a2.select("vec_id", "cid"), fit.xq,
        "sim_components_kmeans_scaled")
    },

    // The staged production face of the SCALED chain — the
    // sim_components_kmeans_staged contract applied to the three-level k ∝ N
    // fit: the assignment table persists once per corpus version behind
    // the fingerprint-validated staging (content xor + dims + cellTarget +
    // algorithm version — growing the corpus changes BOTH the xor and k,
    // so a stale fit can never serve), and the per-run cost is the
    // knn-within-cell + components chain only. Same oracle: the layered
    // chain is deterministic, so the staged assignment IS the computed one.
    Q("sim_components_kmeans_scaled_staged", kmComponentsScaledOracle) { (s, d) =>
      val table = stageKmeansScaledAssign(s, d)
      graft.functions.GraftFunctions.register(s)
      val xq = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(s"vector_quantize(embedding, $kmScale)").as("xq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kmComponentsFrom(s, d, s.table(table), xq,
        "sim_components_kmeans_scaled_staged")
    },

    // Multi-probe kNN graph over the SCALED (k ∝ N, three-level) cells — the
    // production graph (VERDICT r6 #2): constant-occupancy learned cells +
    // 26-cell probing from a 12-coarse selection pool (mpCoarse /
    // mpScaledNprobe — the round-9 widening measured recall@3 0.558 →
    // 0.800; see the RecallProbe grid in their scaladoc) in one chain,
    // with probe selection itself super-layer
    // routed so nothing touches all k centroids per vector. Contract and
    // ranking identical to sim_knn_graph_multiprobe; only the cell layer
    // differs (k = max(8, N/32) three-level cells vs fixed k=8 flat cells).
    Q("sim_knn_graph_multiprobe_scaled",
      s"""WITH $multiprobeScaledCtes
         |SELECT vec_id, neighbor_id, rank, dist FROM mpknn
         |ORDER BY vec_id, rank""".stripMargin) { (s, d) =>
      multiprobeKnnScaledDF(s, d).orderBy("vec_id", "rank")
    },

    // Recall audit for the scaled multi-probe graph — the production point
    // on the recall curve, same sampled exact-top-3 harness and
    // (dist, neighbor_id) total order as the other three audits, so all
    // four numbers compare directly (label cells -> learned k=8 ->
    // learned k=8 + multiprobe -> scaled three-level + multiprobe). The
    // floor is asserted by MultiprobeRecallSpec alongside the fixed-k
    // variant's.
    Q("sim_knn_recall_multiprobe_scaled", {
      val dNq = duckL2q("q.xq", "c.xq", dims)
      s"""WITH $multiprobeScaledCtes,
         |qs AS (SELECT vec_id, xq FROM xq WHERE $querySel),
         |bp AS (
         |  SELECT q.vec_id, c.vec_id AS neighbor_id, $dNq AS dist
         |  FROM qs q JOIN xq c ON c.vec_id <> q.vec_id
         |),
         |bt AS (
         |  SELECT vec_id, neighbor_id FROM bp
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) <= $knnK
         |),
         |gt AS (SELECT vec_id, neighbor_id FROM mpknn WHERE vec_id % 50 = 0),
         |hit AS (
         |  SELECT bt.vec_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM bt JOIN gt ON gt.vec_id = bt.vec_id AND gt.neighbor_id = bt.neighbor_id
         |  GROUP BY bt.vec_id
         |)
         |SELECT q.vec_id AS query_id, coalesce(h.n_hit, 0) AS n_hit
         |FROM qs q LEFT JOIN hit h ON h.vec_id = q.vec_id
         |ORDER BY query_id""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val gt = multiprobeKnnScaledDF(s, d).filter(expr(querySel))
        .select("vec_id", "neighbor_id")
      val xq = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(s"vector_quantize(embedding, $kmScale)").as("xq"))
      val qs = xq.filter(expr(querySel)).select(col("vec_id").as("qid"), col("xq").as("qx"))
      val bt = xq.join(broadcast(qs), col("vec_id") =!= col("qid")) // 2% query batch
        .select(col("qid").as("vec_id"), col("vec_id").as("neighbor_id"),
          expr("vector_l2q(qx, xq)").as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("neighbor_id"))))
        .filter(col("rn") <= knnK)
        .select("vec_id", "neighbor_id")
      val hit = bt.join(gt, Seq("vec_id", "neighbor_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_hit"))
      xq.filter(expr(querySel)).select(col("vec_id").as("query_id"))
        .join(hit.withColumnRenamed("vec_id", "query_id"), Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .orderBy("query_id")
    },

    // Hard-negative mining — the contrastive-training data op: for each
    // query vector, the top-k most-similar vectors carrying a DIFFERENT
    // label (same-label neighbors are positives; the near-miss negatives
    // are what embedding training wants). Exact brute force is the
    // correctness baseline, same stance as sim_topk_cosine: one corpus
    // scan per query batch with the query side broadcast (a query BATCH is
    // constant-bounded — this is the allowed broadcast kind), ranking
    // windowed per query. Production serves candidates from the IVF route
    // (sim_ivf) with the label filter applied post-probe; recall of that
    // swap is gated by the sim_ann_recall harness pattern.
    Q("sim_hard_negatives",
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    c.label AS neg_label,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id AND c.label <> q.label
         |  WHERE q.$querySel
         |)
         |SELECT query_id, neighbor_id, neg_label, round(cos, 4) AS cos_sim
         |FROM s
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= $topK
         |ORDER BY query_id, neighbor_id""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      hardNegativesDF(Tables.embeddings(s, d)).orderBy("query_id", "neighbor_id")
    },

    // Diversity-capped retrieval (MMR-lite): top-k per query with at most
    // `divCap` results from any one label cell — the cheap deterministic
    // stand-in for maximal-marginal-relevance reranking (greedy MMR is
    // sequential per query; the per-cell cap keeps the whole op two window
    // ranks, embarrassingly parallel across queries, and ORDER-exact for
    // the oracle). Scale shape: both windows partition by (query[, label])
    // — parallelism grows with the query batch, and the corpus-sized scan
    // is the same single broadcast-join pass as sim_topk_cosine; at 100 TB
    // stage-1 candidates come from the ANN route instead, cap unchanged.
    Q("sim_diverse_topk",
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    c.label AS cell,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
         |  WHERE q.$querySel
         |),
         |capped AS (
         |  SELECT * FROM s
         |  QUALIFY row_number() OVER (PARTITION BY query_id, cell ORDER BY cos DESC, neighbor_id) <= $divCap
         |)
         |SELECT query_id, neighbor_id, cell, round(cos, 4) AS cos_sim
         |FROM capped
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= $topK
         |ORDER BY query_id, neighbor_id""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      diverseTopkDF(Tables.embeddings(s, d)).orderBy("query_id", "neighbor_id")
    },
    // Recall@k CURVE for the sign-LSH ANN route (the dd_threshold_curve
    // stance applied to ANN evaluation): recall at k = 1/3/5/10 in ONE
    // pass over the two ranked lists — the "is one hash table enough, and
    // at what k does it degrade" audit behind every prod ANN rollout.
    // All cost is the two scored frames sim_ann_recall already pays; the
    // sweep itself is a 4-literal-row join against the ≤10-rank pairs
    // (query-batch-sized), counted map-side. Hits and possible counts are
    // exact integers; recall is the unrounded int/int quotient.
    Q("sim_recall_curve", {
      val exact2 =
        s"""e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |n2 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e2),
           |s2 AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
           |  FROM n2 q JOIN n2 c ON c.vec_id <> q.vec_id
           |  WHERE q.$querySel
           |)""".stripMargin
      s"""WITH $annCtes,
         |$exact2,
         |ek AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn_e
         |  FROM s2
         |),
         |ak AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn_a
         |  FROM s
         |),
         |p AS (
         |  SELECT e.query_id, e.rn_e, a.rn_a
         |  FROM ek e LEFT JOIN ak a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  WHERE e.rn_e <= $curveMaxK
         |),
         |ks AS (SELECT unnest([${curveKs.mkString(", ")}]) AS k)
         |SELECT CAST(k AS BIGINT) AS k,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN rn_a <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  sum(CASE WHEN rn_a <= k THEN 1 ELSE 0 END) * 1.0 / count(*) AS recall
         |FROM p JOIN ks ON p.rn_e <= ks.k
         |GROUP BY k ORDER BY k""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val n = vectors(s, d).withColumn("bucket", expr(bucketSparkExpr))
      val q = n.filter(expr(querySel))
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket").as("qbucket"))
      def ranked(scored: DataFrame, rnName: String) = {
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
        scored.withColumn(rnName, row_number().over(w))
      }
      val exact = ranked(
        n.join(broadcast(q.drop("qbucket")), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            (expr(sparkDot("qv", "v")) / (col("qn") * col("nrm"))).as("cos")), "rn_e")
        .filter(col("rn_e") <= curveMaxK)
        .select("query_id", "neighbor_id", "rn_e")
      val ann = ranked(
        n.join(q, col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            (expr(sparkDot("qv", "v")) / (col("qn") * col("nrm"))).as("cos")), "rn_a")
        .select("query_id", "neighbor_id", "rn_a")
      val ksDF = s.createDataFrame(curveKs.map(Tuple1(_))).toDF("k")
      exact.join(ann, Seq("query_id", "neighbor_id"), "left")
        .join(broadcast(ksDF), col("rn_e") <= col("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("rn_a") <= col("k"), 1L).otherwise(0L)).as("n_hits"))
        .select(col("k").cast("long").as("k"), col("n_pairs"), col("n_hits"),
          expr("n_hits * 1.0D / n_pairs").as("recall"))
        .orderBy("k")
    },
  )

  /** Shared sim_ivfpq / sim_ivfpq_staged oracle (the FAISS IVF-PQ shape,
    * all quantized-integer so ADC sums are hash-exact). */
  private lazy val pqOracle: String = {
      def d8(a: String, b: String) = duckL2q(a, b, 8)
      s"""WITH xq AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * $pqScale, 0) AS BIGINT)) AS xq
         |  FROM embeddings
         |),
         |sub AS (
         |  SELECT vec_id, label, CAST(s AS INT) AS s,
         |    list_slice(xq, CAST(s*$pqSubDim+1 AS INT), CAST(s*$pqSubDim+$pqSubDim AS INT)) AS sv
         |  FROM xq, unnest(generate_series(0, ${pqM - 1})) AS t(s)
         |),
         |seed AS (SELECT s, vec_id AS cid, sv AS carr FROM sub WHERE vec_id < $pqK),
         |a1 AS (
         |  SELECT vec_id, s, cid FROM (
         |    SELECT sub.vec_id, sub.s, seed.cid, ${d8("sub.sv", "seed.carr")} AS dist
         |    FROM sub JOIN seed ON seed.s = sub.s
         |  ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) = 1
         |),
         |cbs AS (
         |  SELECT a1.s, a1.cid, u.i,
         |    CAST(round(CAST(sum(sub.sv[CAST(u.i AS INT)]) AS DOUBLE) / count(*), 0) AS BIGINT) AS cm
         |  FROM a1 JOIN sub ON sub.vec_id = a1.vec_id AND sub.s = a1.s,
         |    unnest(generate_series(1, $pqSubDim)) AS u(i)
         |  GROUP BY a1.s, a1.cid, u.i
         |),
         |cb AS (SELECT s, cid, list(cm ORDER BY i) AS carr FROM cbs GROUP BY s, cid),
         |codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT sub.vec_id, sub.s, cb.cid, ${d8("sub.sv", "cb.carr")} AS dist
         |    FROM sub JOIN cb ON cb.s = sub.s
         |  ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) = 1
         |),
         |cc0 AS (
         |  SELECT label, u.i,
         |    CAST(round(CAST(sum(xq[CAST(u.i AS INT)]) AS DOUBLE) / count(*), 0) AS BIGINT) AS cm
         |  FROM xq, unnest(generate_series(1, ${LlmHash.dims})) AS u(i)
         |  GROUP BY label, u.i
         |),
         |ccent AS (SELECT label, list(cm ORDER BY i) AS carr FROM cc0 GROUP BY label),
         |route AS (
         |  SELECT query_id, probe_label FROM (
         |    SELECT q.vec_id AS query_id, c.label AS probe_label, ${duckL2q("q.xq", "c.carr", 64)} AS dist
         |    FROM xq q, ccent c WHERE q.$querySel
         |  ) QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, probe_label) = 1
         |),
         |lut AS (
         |  SELECT sub.vec_id AS query_id, sub.s, cb.cid, ${d8("sub.sv", "cb.carr")} AS d
         |  FROM sub JOIN cb ON cb.s = sub.s
         |  WHERE sub.$querySel
         |),
         |adc AS (
         |  SELECT l.query_id, c.vec_id AS neighbor_id, CAST(sum(l.d) AS BIGINT) AS adist
         |  FROM route r
         |  JOIN xq v ON v.label = r.probe_label
         |  JOIN codes c ON c.vec_id = v.vec_id
         |  JOIN lut l ON l.query_id = r.query_id AND l.s = c.s AND l.cid = c.code
         |  WHERE c.vec_id <> r.query_id
         |  GROUP BY l.query_id, c.vec_id
         |)
         |SELECT query_id, neighbor_id, adist FROM adc
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= $topK
         |ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** Oracle for the SCALED IVF-PQ pair: the [[kmeansThreeLevelCtes]] fit
    * (xq, sseeds, gseeds, c1, pf1, pg1, a2 — kmScale-quantized; kmScale ==
    * pqScale is require()d on the Spark side) + the [[pqOracle]]
    * codebook/code CTEs rebased on that xq, + layered query routing. A
    * corpus-member query's layered route IS its own a2 row (identical
    * rule, identical (sd, sid)/(gd, gid)/(dist, cid) tie orders), so
    * `route` filters a2 rather than restating the chain — the same
    * identity the Spark side exploits via [[assignScaled]]. ADC then ranks
    * the probed SCALED cell's codes. */
  /** The PQ codebook/codes oracle fragment (sub → seed → one Lloyd round →
    * cb → codes) over an existing `xq` CTE — shared by the scaled serve
    * oracles. */
  private lazy val pqCodebookCtes: String = {
    def d8(a: String, b: String) = duckL2q(a, b, 8)
    s"""sub AS (
       |  SELECT vec_id, CAST(s AS INT) AS s,
       |    list_slice(xq, CAST(s*$pqSubDim+1 AS INT), CAST(s*$pqSubDim+$pqSubDim AS INT)) AS sv
       |  FROM xq, unnest(generate_series(0, ${pqM - 1})) AS t(s)
       |),
       |seed AS (SELECT s, vec_id AS cid, sv AS carr FROM sub WHERE vec_id < $pqK),
       |pqa1 AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT sub.vec_id, sub.s, seed.cid, ${d8("sub.sv", "seed.carr")} AS dist
       |    FROM sub JOIN seed ON seed.s = sub.s
       |  ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) = 1
       |),
       |cbs AS (
       |  SELECT pqa1.s, pqa1.cid, u.i,
       |    CAST(round(CAST(sum(sub.sv[CAST(u.i AS INT)]) AS DOUBLE) / count(*), 0) AS BIGINT) AS cm
       |  FROM pqa1 JOIN sub ON sub.vec_id = pqa1.vec_id AND sub.s = pqa1.s,
       |    unnest(generate_series(1, $pqSubDim)) AS u(i)
       |  GROUP BY pqa1.s, pqa1.cid, u.i
       |),
       |cb AS (SELECT s, cid, list(cm ORDER BY i) AS carr FROM cbs GROUP BY s, cid),
       |codes AS (
       |  SELECT vec_id, s, cid AS code FROM (
       |    SELECT sub.vec_id, sub.s, cb.cid, ${d8("sub.sv", "cb.carr")} AS dist
       |    FROM sub JOIN cb ON cb.s = sub.s
       |  ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) = 1
       |)""".stripMargin
  }

  private lazy val pqScaledOracle: String = {
    s"""WITH $kmeansThreeLevelCtes,
       |$pqCodebookCtes,
       |route AS (SELECT vec_id AS query_id, cid AS probe_cid FROM a2 WHERE $querySel),
       |lut AS (
       |  SELECT sub.vec_id AS query_id, sub.s, cb.cid, ${duckL2q("sub.sv", "cb.carr", 8)} AS d
       |  FROM sub JOIN cb ON cb.s = sub.s
       |  WHERE sub.$querySel
       |),
       |adc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id, CAST(sum(l.d) AS BIGINT) AS adist
       |  FROM route r
       |  JOIN a2 v ON v.cid = r.probe_cid
       |  JOIN codes c ON c.vec_id = v.vec_id
       |  JOIN lut l ON l.query_id = r.query_id AND l.s = c.s AND l.cid = c.code
       |  WHERE c.vec_id <> r.query_id
       |  GROUP BY l.query_id, c.vec_id
       |)
       |SELECT query_id, neighbor_id, adist FROM adc
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= $topK
       |ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** Oracle for the WIDE re-rank serve ([[pqServeQueriesScaledWide]]):
    * the multiprobe route (`mp`, [[multiprobeScaledCtes]]) supplies the
    * probed cells, the PQ fragment ([[pqCodebookCtes]]) the codes, ADC
    * pools the probed members, the top [[serveTopC]] survive to an exact
    * full-dimension re-rank. */
  private lazy val pqScaledRerankOracle: String = {
    s"""WITH $multiprobeScaledCtes,
       |$pqCodebookCtes,
       |qroute AS (SELECT vec_id AS query_id, pcid AS probe_cid FROM mp WHERE $querySel),
       |lut AS (
       |  SELECT sub.vec_id AS query_id, sub.s, cb.cid, ${duckL2q("sub.sv", "cb.carr", 8)} AS d
       |  FROM sub JOIN cb ON cb.s = sub.s
       |  WHERE sub.$querySel
       |),
       |adc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id, CAST(sum(l.d) AS BIGINT) AS adist
       |  FROM qroute r
       |  JOIN a2 v ON v.cid = r.probe_cid
       |  JOIN codes c ON c.vec_id = v.vec_id
       |  JOIN lut l ON l.query_id = r.query_id AND l.s = c.s AND l.cid = c.code
       |  WHERE c.vec_id <> r.query_id
       |  GROUP BY l.query_id, c.vec_id
       |),
       |shortl AS (
       |  SELECT query_id, neighbor_id, adist FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= $serveTopC
       |),
       |rr AS (
       |  SELECT sh.query_id, sh.neighbor_id, sh.adist, ${duckL2q("q.xq", "n.xq", LlmHash.dims)} AS fdist
       |  FROM shortl sh JOIN xq n ON n.vec_id = sh.neighbor_id
       |    JOIN xq q ON q.vec_id = sh.query_id
       |)
       |SELECT query_id, neighbor_id, adist, fdist FROM rr
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY fdist, neighbor_id) <= $topK
       |ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** Quantized corpus (vec_id, label, xq) and its per-subspace slices —
    * the row-local projections BOTH the index build and the serve path
    * start from. Persisted; callers unpersist via the returned handles.
    */
  /** `persist = false` (the sampled-training build at decade scale) keeps
    * the corpus-sized xq and the M×-exploded sub frames UNPINNED: with a
    * sampled train set each has a single consumer, and persisting them is
    * pure block-manager disk — the 20M-vector stage build died on scratch
    * exhaustion with ~25 GB of pinned sub blocks before this flag existed
    * (SCALING r10). Re-deriving either is one projection over the parquet
    * scan. */
  private def pqFrames(s: org.apache.spark.sql.SparkSession, d: String,
      persist: Boolean = true): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    def pin(df: DataFrame): DataFrame =
      if (persist) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val xq = pin(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr(s"vector_quantize(embedding, $pqScale)").as("xq")))
    val sub = pin(xq
      .select(col("vec_id"), col("label"), explode(expr(s"sequence(0, ${pqM - 1})")).as("s"), col("xq"))
      .select(col("vec_id"), col("label"), col("s").cast("int").as("s"),
        expr(s"slice(xq, s * $pqSubDim + 1, $pqSubDim)").as("sv")))
    (xq, sub)
  }

  /** The IVF-PQ INDEX build — the once-per-corpus-version pass: subspace
    * codebooks (2 Lloyd-style rounds from deterministic seeds), per-vector
    * 8-byte PQ codes, and the coarse cell centroids. Returned caches are
    * the persisted intermediate frames (callers keep them alive until the
    * serve plan has executed). */
  private[llm] def pqBuildIndex(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    val (xq, cb, codes, caches) = pqBuildCodebooks(s, d)
    def centroids(df: DataFrame, keys: Seq[String]) = df
      .groupBy((keys :+ "i").map(col): _*)
      .agg(expr("cast(round(cast(sum(v) as double) / count(*), 0) as bigint)").as("cm"))
      .groupBy(keys.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(i, cm))), p -> p.cm)").as("carr"))
    val ccent = centroids(
      xq.select(col("label"), posexplode(col("xq")).as(Seq("i", "v"))),
      Seq("label"))
    (cb, codes, ccent, caches)
  }

  /** The CELL-INDEPENDENT half of the PQ build — subspace codebooks
    * (2 Lloyd-style rounds from deterministic seeds) and per-vector 8-byte
    * codes. Factored out so the SCALED index (k ∝ N three-level cells) can
    * share the exact PQ construction with the fixed-label index; returns
    * (xq quantized corpus, cb, codes, cache handles). */
  private[llm] def pqBuildCodebooks(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    val n = Tables.embeddings(s, d).count()
    val step = math.max(1L, n / pqTrainCap)
    // at step = 1 (every oracle-checked corpus) sub feeds three consumers
    // (seed, train, codes) and earns its persist; at decade scale the
    // sampled train is the only repeat consumer, so xq/sub stay unpinned
    val (xq, sub) = pqFrames(s, d, persist = step == 1L)
    val dist = "vector_l2q(av, bv)"
    def argmin(df: DataFrame, keys: Seq[String], outCid: String) = df
      .withColumn("dist", expr(dist))
      .groupBy(keys.map(col): _*)
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(keys.map(col) :+ col("m.cid").as(outCid) :+ col("m.dist").as("dist"): _*)
    def centroids(df: DataFrame, keys: Seq[String]) = df
      .groupBy((keys :+ "i").map(col): _*)
      .agg(expr("cast(round(cast(sum(v) as double) / count(*), 0) as bigint)").as("cm"))
      .groupBy(keys.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(i, cm))), p -> p.cm)").as("carr"))
    // Codebooks train on a deterministic hash-SAMPLE of at most ~pqTrainCap
    // vectors (the FAISS stance: codebooks are distribution statistics —
    // k-means on a bounded sample, codes assigned over the full corpus).
    // Training on the whole corpus put a 160M-row (vec_id, s)-keyed
    // sort-merge join (a1 ⋈ sub, sub-vector arrays on one side) through
    // shuffle scratch and died at 20M vectors (SPILL_OUT_OF_MEMORY,
    // SCALING r9); the sampled train chain is O(cap) regardless of N while
    // the full-corpus passes that remain (codes argmin) are broadcast-join
    // + map-side-combined — no corpus-sized wide shuffle anywhere. The cap
    // exceeds every oracle-checked corpus (sf0.1 = 200k vectors), so step
    // = 1 and the sample IS the corpus at driver scale — oracle SQL is
    // exact, unchanged; the sample only engages at decade slices, which
    // are measured by probes (recall/occupancy), not value oracles.
    val train =
      if (step == 1L) sub
      else sub.filter(expr(s"pmod(md5_long60(cast(vec_id as string)), ${step}L) = 0"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = sub.filter(col("vec_id") < pqK)
      .select(col("s"), col("vec_id").as("cid"), col("sv").as("carr"))
    val a1 = argmin(
      train.join(broadcast(seed), "s")
        .select(col("vec_id"), col("s"), col("cid"), col("sv").as("av"), col("carr").as("bv")),
      Seq("vec_id", "s"), "cid")
    val cb = centroids(
      a1.join(train, Seq("vec_id", "s"))
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("i", "v"))),
      Seq("s", "cid"))
    // PACK at build: the per-(vec_id, s) argmin rows fold into ONE long per
    // vector (code_s << s·pqCodeBits, disjoint bit ranges so sum == or) —
    // the stage's corpus-sized artifact shrinks M× and the serve-side ADC
    // needs no join against per-subspace rows at all (shift+mask instead).
    val codes = argmin(
      sub.join(broadcast(cb), "s")
        .select(col("vec_id"), col("s"), col("cid"), col("sv").as("av"), col("carr").as("bv")),
      Seq("vec_id", "s"), "code")
      .groupBy("vec_id")
      .agg(sum(expr(s"code << (s * $pqCodeBits)")).as("code"))
      .select("vec_id", "code")
    (xq, cb, codes,
      if (step == 1L) Seq(xq, sub) else Seq(train))
  }

  /** Cross-session staged IVF-PQ index (the FAISS write-index-to-disk
    * shape, via the shared StagedTable machinery): codebooks, per-vector
    * codes, and coarse centroids persist as ONE kind-tagged external
    * table under a fingerprint of the embedding corpus + every PQ
    * constant — a fresh process whose corpus matches adopts the files and
    * pays zero index passes before serving; any drift rebuilds. The
    * single-artifact layout mirrors a serialized ANN index file; the
    * corpus-sized member (codes) is narrow (vec_id, s, code — 8 bytes of
    * code per vector). */
  private[graft] def stagePqIndex(s: org.apache.spark.sql.SparkSession, d: String): String =
    // pq-v3 = PACKED per-vector codes (one bigint), replacing the
    // (vec_id, s, code) triples of v2
    StagedTable.getOrStage(s, d, StagedTable.Stage("pq_index", StagedTable.Vecs,
        s"pq-v3;scale=$pqScale;M=$pqM;sub=$pqSubDim;k=$pqK;tcap=$pqTrainCap;" +
          s"dims=${LlmHash.dims}")) { write =>
      val (cb, codes, ccent, caches) = pqBuildIndex(s, d)
      val nulls = Seq(lit(null).cast("bigint").as("vec_id"),
        lit(null).cast("bigint").as("code"), lit(null).cast("int").as("label"))
      write(cb.select(Seq(lit("cb").as("kind"), col("s"), col("cid"),
          col("carr")) ++ nulls: _*)
        .unionByName(codes.select(lit("code").as("kind"),
          lit(null).cast("int").as("s"),
          lit(null).cast("bigint").as("cid"),
          lit(null).cast("array<bigint>").as("carr"),
          col("vec_id"), col("code"), lit(null).cast("int").as("label")))
        .unionByName(ccent.select(lit("ccent").as("kind"),
          lit(null).cast("int").as("s"), lit(null).cast("bigint").as("cid"),
          col("carr"), lit(null).cast("bigint").as("vec_id"),
          lit(null).cast("bigint").as("code"), col("label"))))
      caches.foreach(_.unpersist(blocking = false))
    }

  /** The IVF-PQ SERVE path: route each query to its best coarse cell,
    * build the per-query ADC lookup table against the codebooks, and rank
    * the probed cell's codes — only query-batch- and cell-sized work; the
    * corpus appears as its 8-byte codes, never as vectors. */
  private[llm] def pqServe(s: org.apache.spark.sql.SparkSession, d: String,
      cb: DataFrame, codes: DataFrame, ccent: DataFrame): DataFrame = {
    val (xq, _) = pqFrames(s, d)
    pqServeQueries(s, d, cb, codes, ccent,
      xq.filter(expr(querySel)).select(col("vec_id").as("query_id"), col("xq")),
      selfExclude = true, hintQueryBroadcast = false)
  }

  /** IVF-PQ serving for an ARBITRARY query batch (query_id, xq quantized
    * vector) — the entry the streaming query feed uses per micro-batch.
    * `selfExclude` controls the `vec_id <> query_id` guard: the batch twin
    * passes corpus members as queries and MUST exclude each query's own
    * row (`pqServe` sets true); an external/streaming query is not a
    * corpus member, so its id colliding with a corpus vec_id must NOT
    * silently drop that corpus vector from the candidate set
    * (`StreamingAnnServe` sets false). */
  /** @param delta optional FRESH vectors not yet folded into the PQ index
    *   — (vec_id, cell, xq) from the streaming maintenance path
    *   (`StreamingAnnServe.annIndexStream`'s sink, quantized on read).
    *   A probed cell's fresh members score by their EXACT quantized L2
    *   (`vector_l2q(q, v)`) — the very quantity the base side's ADC sum
    *   approximates with codewords, so the two sides rank in the same
    *   units and one top-k window merges them (the classic IVF
    *   fresh-buffer design: exact over the small delta, ADC over the
    *   compacted base). */
  /** Shared packed-ADC scorer (the FAISS ADC shape, Spark-first): per
    * query ONE positional lookup array of all M·K codeword distances; per
    * corpus candidate ONE packed bigint code; the asymmetric distance is
    * an M-step `aggregate` of shift/mask array reads — no join against
    * per-subspace code rows (160M at 20M vectors) and no
    * (query, s, code)-keyed LUT join (|Q|·M·K rows): SCALING r10 measured
    * that join pair at 51.6×/decade (800 s at 400k queries × 20M vectors,
    * ~70 GB spill); this shape shuffles only the candidate pairs and |Q|
    * 128-slot arrays. Values are bit-identical: the same vector_l2q
    * codeword distances, summed in the same integer domain.
    *
    * @param candidates (query_id, vec_id) probed pairs — unique by
    *                   construction (cells are disjoint)
    * @param codes      (vec_id, code) PACKED per-vector codes
    * @param queries    (query_id, xq) at pqScale quantization
    * @param cb         (s, cid, carr) subspace codebooks
    * @param bcq        the |Q|-gated broadcast-hint wrapper of the caller */
  private def adcScores(candidates: DataFrame, codes: DataFrame,
      queries: DataFrame, cb: DataFrame,
      bcq: DataFrame => DataFrame): DataFrame = {
    // per-(query, s, cid) codeword distance, SCATTERED into a positional
    // array (slot = s·K + cid) through a 128-entry map — a dead codeword
    // (one no code references) leaves a null slot no lookup ever touches
    val lutArr = queries
      .select(col("query_id"), explode(expr(s"sequence(0, ${pqM - 1})")).as("s"), col("xq"))
      .select(col("query_id"), col("s").cast("int").as("s"),
        expr(s"slice(xq, s * $pqSubDim + 1, $pqSubDim)").as("av"))
      .join(broadcast(cb), "s")
      .withColumnRenamed("carr", "bv")
      .select(col("query_id"), col("s"), col("cid"),
        expr("vector_l2q(av, bv)").as("d"))
      .groupBy("query_id")
      .agg(expr(s"map_from_entries(collect_list(struct(cast(s * $pqK + cid as int), d)))")
        .as("lmap"))
      .select(col("query_id"),
        expr(s"transform(sequence(0, ${pqM * pqK - 1}), i -> lmap[i])").as("larr"))
    candidates
      .join(codes, "vec_id")
      .join(bcq(lutArr), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr(s"aggregate(sequence(0, ${pqM - 1}), 0L, (acc, s) -> " +
          s"acc + larr[cast(s * $pqK + ((code >> (s * $pqCodeBits)) & ${pqK - 1}) as int)])")
          .as("adist"))
  }

  private[llm] def pqServeQueries(s: org.apache.spark.sql.SparkSession, d: String,
      cb: DataFrame, codes: DataFrame, ccent: DataFrame,
      queries: DataFrame, selfExclude: Boolean,
      delta: Option[DataFrame] = None,
      hintQueryBroadcast: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // |Q|-proportional hint gating — same rule as the wide tier (ADVICE r9)
    def bcq(df: DataFrame): DataFrame = if (hintQueryBroadcast) broadcast(df) else df
    // Serving needs only the corpus's (vec_id, cell-label) membership — a
    // two-column scan, NOT the quantized vectors: routing uses the
    // broadcast centroids, ranking uses the 8-byte codes. Do not call
    // pqFrames here — it persists the corpus-sized xq frame AND the
    // M×-exploded sub frame, which a long-running serving job would pin
    // forever without ever reading (the index-build path is the only
    // consumer of those caches).
    val xq = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val dist = "vector_l2q(av, bv)"
    def argmin(df: DataFrame, keys: Seq[String], outCid: String) = df
      .withColumn("dist", expr(dist))
      .groupBy(keys.map(col): _*)
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(keys.map(col) :+ col("m.cid").as(outCid) :+ col("m.dist").as("dist"): _*)
    val route = queries
      .select(col("query_id"), col("xq").as("av"))
      .crossJoin(broadcast(ccent.select(col("label").as("cid"), col("carr").as("bv"))))
      .transform(df => argmin(df, Seq("query_id"), "probe_label"))
      .select("query_id", "probe_label")
    val cellMembers = bcq(route)
      .join(xq.select(col("vec_id"), col("label")), col("label") === col("probe_label"))
    val adc = adcScores(
      (if (selfExclude) cellMembers.filter(col("vec_id") =!= col("query_id"))
       else cellMembers).select("query_id", "vec_id"),
      codes, queries, cb, bcq)
    // fresh-buffer side: the probed cell's not-yet-indexed vectors, exact
    // quantized L2 (delta is compaction-bounded — small by contract).
    // A vector present in BOTH the PQ codes and a not-yet-retired delta
    // (the post-rebuild, pre-compaction window) would otherwise score
    // twice and occupy two top-k slots — keep ONE row per (query_id,
    // neighbor_id), the min(adist) side (the exact delta score is a lower
    // bound of what ADC approximates, so min picks the exact one whenever
    // both exist); the aggregate is survivor-sized (ADVICE r7).
    val scoredAll = delta.fold(adc) { dl =>
      val fresh = bcq(route)
        .join(bcq(queries.select(col("query_id").as("fq"), col("xq").as("qxq"))),
          col("fq") === col("query_id"))
        .join(dl.select(col("vec_id").as("neighbor_id"), col("cell"), col("xq").as("dxq")),
          col("cell") === col("probe_label"))
        .filter(!(lit(selfExclude) && col("neighbor_id") === col("query_id")))
        .select(col("query_id"), col("neighbor_id"),
          expr("vector_l2q(qxq, dxq)").as("adist"))
      adc.unionByName(fresh)
        .groupBy("query_id", "neighbor_id")
        .agg(min("adist").as("adist"))
    }
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    scoredAll.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select("query_id", "neighbor_id", "adist")
      .orderBy("query_id", "neighbor_id")
  }

  /** IVF-PQ serving against the SCALED (k ∝ N three-level) cells — the
    * production serve shape (VERDICT r7 #1): queries route LAYERED
    * (nearest routable super seed, then its nearest coarse child, then
    * argmin over that seed's fine children — [[assignScaled]], the
    * identical rule/tie-order the corpus assignment and the streaming
    * maintenance router use, so a query and the vector it is looking for
    * can never land one cell apart), then the probed cell's members rank
    * through the same ADC-LUT machinery as the fixed-label serve. Nothing
    * touches all k centroids per query: routing is ~3·kcc distances —
    * O(k^(1/3)) — against broadcast-sized tables.
    *
    * @param members corpus (vec_id, cid) — the scaled assignment
    * @param sseeds  super seeds (sid, sarr)
    * @param pf      fine→coarse parent map (cid, gid, carr)
    * @param pg      coarse→super parent map (gid, sid, garr)
    * @param delta   optional fresh vectors (vec_id, cell = scaled cid, xq)
    *                from the scaled maintenance stream; exact quantized L2,
    *                min-dedup'd against the base (the pqServeQueries delta
    *                contract) */
  private[llm] def pqServeQueriesScaled(s: org.apache.spark.sql.SparkSession,
      cb: DataFrame, codes: DataFrame, members: DataFrame,
      sseeds: DataFrame, pf: DataFrame, pg: DataFrame,
      queries: DataFrame, selfExclude: Boolean,
      delta: Option[DataFrame] = None,
      hintQueryBroadcast: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // |Q|-proportional hint gating — same rule as the wide tier (ADVICE r9)
    def bcq(df: DataFrame): DataFrame = if (hintQueryBroadcast) broadcast(df) else df
    // the two quantization constants must agree for the scaled index: the
    // layered fit routes on kmScale integers while the PQ LUT/ADC run on
    // pqScale integers — one xq table serves both only because they are
    // the same grid (both 10000; a future retune must move them together)
    require(pqScale == kmScale, "scaled IVF-PQ requires pqScale == kmScale")
    val route = assignScaled(
        queries.select(col("query_id").as("vec_id"), col("xq")), pf, pg, sseeds)
      .select(col("vec_id").as("query_id"), col("cid").as("probe_cid"))
    val cellMembers = bcq(route)
      .join(members.select(col("vec_id"), col("cid")), col("cid") === col("probe_cid"))
    val adc = adcScores(
      (if (selfExclude) cellMembers.filter(col("vec_id") =!= col("query_id"))
       else cellMembers).select("query_id", "vec_id"),
      codes, queries, cb, bcq)
    val scoredAll = delta.fold(adc) { dl =>
      val fresh = bcq(route)
        .join(bcq(queries.select(col("query_id").as("fq"), col("xq").as("qxq"))),
          col("fq") === col("query_id"))
        .join(dl.select(col("vec_id").as("neighbor_id"), col("cell"), col("xq").as("dxq")),
          col("cell") === col("probe_cid"))
        .filter(!(lit(selfExclude) && col("neighbor_id") === col("query_id")))
        .select(col("query_id"), col("neighbor_id"),
          expr("vector_l2q(qxq, dxq)").as("adist"))
      adc.unionByName(fresh)
        .groupBy("query_id", "neighbor_id")
        .agg(min("adist").as("adist")) // base ∪ delta overlap: one slot, the exact score
    }
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    scoredAll.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select("query_id", "neighbor_id", "adist")
      .orderBy("query_id", "neighbor_id")
  }

  /** WIDE re-rank IVF-PQ serving over the scaled cells — the recall tier
    * above [[pqServeQueriesScaled]] (VERDICT r8 #4): where the single-cell
    * serve bounds recall by ONE cell's coverage, this path (1) probes the
    * query's top-`nprobe` fine cells through [[multiprobeRouteDF]] (the
    * graph's router — probe #1 is the single-cell serve's cell, so this is
    * a strict superset), (2) ranks the pooled members by the SAME ADC LUT
    * (content still moves as 8-byte codes — nprobe× the LUT joins, nothing
    * else grows), (3) keeps the top [[serveTopC]] per query and re-ranks
    * ONLY those by exact quantized L2 against the corpus vectors —
    * prune-first, the sim_twostage shape: |Q|·C exact distances instead of
    * |Q|·cell, and the ADC's sub-quantization error cannot reorder the
    * final top-k. Output (query_id, neighbor_id, adist, fdist): the ADC
    * score that selected and the exact score that ranked.
    *
    * @param xqCorpus (vec_id, xq) — the corpus at [[pqScale]] quantization,
    *                 read thin (two columns) and joined only against the
    *                 |Q|·C shortlist
    * @param delta    optional fresh vectors, same contract as
    *                 [[pqServeQueriesScaled]] (exact scores, min-dedup'd) */
  private[llm] def pqServeQueriesScaledWide(s: org.apache.spark.sql.SparkSession,
      cb: DataFrame, codes: DataFrame, members: DataFrame,
      sseeds: DataFrame, pf: DataFrame, pg: DataFrame,
      queries: DataFrame, xqCorpus: DataFrame, selfExclude: Boolean,
      nprobe: Int = mpScaledNprobe,
      delta: Option[DataFrame] = None,
      hintQueryBroadcast: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    require(pqScale == kmScale, "scaled IVF-PQ requires pqScale == kmScale")
    // ADVICE r9: route (|Q|*nprobe rows), lut (|Q|*M*K rows) and the
    // queries frame scale with |Q| — the streaming serve's micro-batch |Q|
    // is tiny and KEEPS the explicit hint (stats on a fresh batch frame
    // can't prove broadcastability in time), but the batch face's |Q| =
    // N/50 grows a decade per slice and a hinted broadcast is one AQE
    // cannot demote; there the hint is dropped and AQE upgrades the
    // shuffle join to broadcast at runtime whenever the measured size
    // allows (it does at every test SF).
    def bcq(df: DataFrame): DataFrame = if (hintQueryBroadcast) broadcast(df) else df
    val route = multiprobeRouteDF(
        queries.select(col("query_id").as("vec_id"), col("xq")),
        sseeds, pg, pf, mpSuper, mpCoarse, nprobe)
      .select(col("vec_id").as("query_id"), col("pcid").as("probe_cid"))
    val cellMembers = bcq(route)
      .join(members.select(col("vec_id"), col("cid")), col("cid") === col("probe_cid"))
      // a member can sit in several probed cells' buckets only if cells
      // overlapped — they don't (unique assignment); no dedup needed
    val adc = adcScores(
      (if (selfExclude) cellMembers.filter(col("vec_id") =!= col("query_id"))
       else cellMembers).select("query_id", "vec_id"),
      codes, queries, cb, bcq)
    val scoredAll = delta.fold(adc) { dl =>
      val fresh = bcq(route)
        .join(bcq(queries.select(col("query_id").as("fq"), col("xq").as("qxq"))),
          col("fq") === col("query_id"))
        .join(dl.select(col("vec_id").as("neighbor_id"), col("cell"), col("xq").as("dxq")),
          col("cell") === col("probe_cid"))
        .filter(!(lit(selfExclude) && col("neighbor_id") === col("query_id")))
        .select(col("query_id"), col("neighbor_id"),
          expr("vector_l2q(qxq, dxq)").as("adist"))
      adc.unionByName(fresh)
        .groupBy("query_id", "neighbor_id")
        .agg(min("adist").as("adist")) // base ∪ delta overlap: one slot, the exact score
    }
    // shortlist: top-C by ADC — a window over thin (query, neighbor, adist)
    val wc = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    val shortlist = scoredAll.withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= serveTopC)
      .select("query_id", "neighbor_id", "adist")
    // exact re-rank: |Q|·C rows pull their true vectors by id (AQE
    // broadcasts the tiny shortlist side), then one window to the final k.
    // Delta survivors aren't in the base corpus yet — the lookup is the
    // union (dropDuplicates: an overlapping id has the IDENTICAL xq on
    // both sides, same quantization of the same vector).
    val lookup = delta.fold(
        xqCorpus.select(col("vec_id").as("neighbor_id"), col("xq").as("nxq"))) { dl =>
      xqCorpus.select(col("vec_id"), col("xq"))
        .unionByName(dl.select(col("vec_id"), col("xq")))
        .dropDuplicates("vec_id")
        .select(col("vec_id").as("neighbor_id"), col("xq").as("nxq"))
    }
    val wf = Window.partitionBy("query_id").orderBy(col("fdist"), col("neighbor_id"))
    shortlist
      .join(lookup, Seq("neighbor_id"))
      .join(bcq(queries.select(col("query_id"), col("xq").as("qxq"))), Seq("query_id"))
      .withColumn("fdist", expr("vector_l2q(qxq, nxq)"))
      .withColumn("rn2", row_number().over(wf))
      .filter(col("rn2") <= topK)
      .select("query_id", "neighbor_id", "adist", "fdist")
      .orderBy("query_id", "neighbor_id")
  }

  /** The scaled-PQ-index stage: the corpus content hash plus every
    * constant of BOTH the three-level fit and the PQ coding — a strict
    * superset of [[stageKmeansScaledAssign]]'s km3l fingerprint, which is
    * what makes that builder's cross-artifact adoption sound.
    * (pqs-v4 = capped split repair; v5 = sampled codebook training;
    * v6 = packed per-vector codes, see pq-v3.) */
  private def pqsStage: StagedTable.Stage = StagedTable.Stage("pqs_index", StagedTable.Vecs,
    s"pqs-v6;sp=$assignSProbe;gp=$assignGProbe;cap=$splitCap;scale=$pqScale;M=$pqM;sub=$pqSubDim;k=$pqK;tcap=$pqTrainCap;dims=${LlmHash.dims};" +
      s"cellTarget=$cellTarget;kmScale=$kmScale")

  /** Cross-session staged SCALED IVF-PQ index — [[stagePqIndex]]'s shape
    * over the k ∝ N three-level cells, self-contained for serving:
    * subspace codebooks (`cb`), per-vector codes (`code`), the corpus cell
    * membership (`member`), the super seeds (`sseed`: sid in `cid`, sarr
    * in `carr`), the coarse→super parent map with coarse seeds (`gparent`:
    * gid in `cid`, sid in `vec_id`, garr in `carr`) and the fine→coarse
    * parent map with fine centroids (`parent`: gid in `vec_id`, cid,
    * carr) — everything the layered query router and the streaming
    * maintenance router need, in ONE kind-tagged artifact whose
    * fingerprint pins the corpus content, the PQ constants AND the re-fit
    * law (a grown corpus changes N, k and the xor — a stale scaled index
    * can never serve). */
  private[graft] def stagePqIndexScaled(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    StagedTable.getOrStage(s, d, pqsStage) { write =>
      val fit = kmeansScaledLayer(s, d)
      val (_, cb, codes, pqCaches) = pqBuildCodebooks(s, d)
      val nullV = lit(null).cast("bigint").as("vec_id")
      val nullC = lit(null).cast("bigint").as("code")
      write(cb.select(lit("cb").as("kind"), col("s"), col("cid"),
          col("carr"), nullV, nullC)
        .unionByName(codes.select(lit("code").as("kind"), lit(null).cast("int").as("s"),
          lit(null).cast("bigint").as("cid"), lit(null).cast("array<bigint>").as("carr"),
          col("vec_id"), col("code")))
        .unionByName(fit.a2.select(lit("member").as("kind"), lit(null).cast("int").as("s"),
          col("cid"), lit(null).cast("array<bigint>").as("carr"),
          col("vec_id"), nullC))
        .unionByName(fit.sseeds.select(lit("sseed").as("kind"), lit(null).cast("int").as("s"),
          col("sid").as("cid"), col("sarr").as("carr"), nullV, nullC))
        .unionByName(fit.pg.select(lit("gparent").as("kind"), lit(null).cast("int").as("s"),
          col("gid").as("cid"), col("garr").as("carr"), col("sid").as("vec_id"), nullC))
        .unionByName(fit.pf.select(lit("parent").as("kind"), lit(null).cast("int").as("s"),
          col("cid"), col("carr"), col("gid").as("vec_id"), nullC)))
      fit.release() // frames AND checkpoint blocks (ADVICE r9)
      pqCaches.foreach(_.unpersist(blocking = false))
    }

  /** The (cb, codes, members, sseeds, pf, pg) frame bundle sliced out of
    * a staged scaled index table — the serve path's adopt-side read. */
  private[llm] def scaledIndexFrames(idx: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = (
    idx.filter(col("kind") === "cb").select("s", "cid", "carr"),
    idx.filter(col("kind") === "code").select("vec_id", "code"),
    idx.filter(col("kind") === "member").select("vec_id", "cid"),
    idx.filter(col("kind") === "sseed")
      .select(col("cid").as("sid"), col("carr").as("sarr")),
    idx.filter(col("kind") === "parent")
      .select(col("vec_id").as("gid"), col("cid"), col("carr")),
    idx.filter(col("kind") === "gparent")
      .select(col("cid").as("gid"), col("vec_id").as("sid"), col("carr").as("garr")))

  /** sim_hard_negatives body over any (vec_id, embedding, label) frame —
    * factored so the planted-negative spec drives the real chain. Requires
    * GraftFunctions registered. */
  private[llm] def hardNegativesDF(emb: DataFrame): DataFrame = {
    val n = emb
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr(s"sqrt(${sparkDot("v", "v")})"))
    val q = n.filter(expr(querySel))
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = n.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        (expr(sparkDot("qv", "v")) / (col("qn") * col("nrm"))).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        round(col("cos"), 4).as("cos_sim"))
  }

  /** sim_diverse_topk body over any (vec_id, embedding, label) frame —
    * factored so the cap spec drives the real two-rank chain. Requires
    * GraftFunctions registered. */
  private[llm] def diverseTopkDF(emb: DataFrame): DataFrame = {
    val n = emb
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr(s"sqrt(${sparkDot("v", "v")})"))
    val scored = n.join(broadcast(
        n.filter(expr(querySel)).select(col("vec_id").as("query_id"),
          col("v").as("qv"), col("nrm").as("qn"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("cell"),
        (expr(sparkDot("qv", "v")) / (col("qn") * col("nrm"))).as("cos"))
    val wCell = Window.partitionBy("query_id", "cell")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val wQ = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rc", row_number().over(wCell)).filter(col("rc") <= divCap)
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        round(col("cos"), 4).as("cos_sim"))
  }
}
