package graft.llm

import graft.functions.VectorQuantize.roundHalfAway
import SimilarityQueries.{assignGProbe, assignSProbe, cellTarget, kccOf, pqCodeBits, pqK,
  pqM, pqSubDim, splitCap}

/** The vector fits in ONE task: the in-process twins of the distributed
  * three-level fit and PQ training, which `SimilarityQueries.scaledFit` and
  * `SimilarityQueries.pqTrain` run instead, for every caller, when the
  * corpus has at most `pqTrainCap` vectors (see
  * `SimilarityQueries.fitsInOneTask`).
  *
  * Each method reproduces its twin row for row: the same seeds (the rows
  * whose `vec_id` is below a bound), the same integer squared L2
  * (`vector_l2q`'s sum over the common prefix), the same `(dist, id)` tie
  * orders, and the same rounded means (exact bigint sums and counts, one
  * double division, Spark's half-away-from-zero round via
  * [[graft.functions.VectorQuantize]]). Vectors arrive already quantized
  * by the `vector_quantize` projection the distributed fits scan. A corpus
  * row must carry a `vec_id` and an embedding, and `vec_id`s are keys —
  * the embeddings contract every stage builder assumes. Each fit comes out
  * as [[Tagged]] rows, which the caller slices into the distributed twin's
  * frames.
  *
  * Why: below the ceiling the distributed fit is job count, not work — ~100
  * Spark jobs, most of them one task over k-row tables, and the query
  * planning between them. Here the whole fit is one task whose working set
  * is the quantized corpus (262 144 × 64 longs = 128 MB at the ceiling, the
  * budget `DedupQueries.componentsOf` gives its one-task solve).
  */
private[llm] object LocalFit {

  /** The corpus gathered into one task, in scan order. */
  final class Corpus(val ids: Array[Long], val xq: Array[Array[Long]]) {
    def size: Int = ids.length
  }

  def gather(rows: Iterator[(Long, Array[Long])]): Corpus = {
    val ids = Array.newBuilder[Long]
    val xq = Array.newBuilder[Array[Long]]
    rows.foreach { case (i, v) => ids += i; xq += v }
    new Corpus(ids.result(), xq.result())
  }

  /** One fitted row (kind, i, j, arr). Each kind fills the fields its frame
    * has and leaves the rest 0 or null:
    *   - `member` (vec_id, cid): the final assignment;
    *   - `sseed` (sid, -, sarr): the super seeds;
    *   - `gparent` (gid, sid, garr): the coarse→super parent map;
    *   - `parent` (cid, gid, carr): the fine→coarse parent map;
    *   - `cb` (s, cid, carr): the PQ codebooks;
    *   - `code` (vec_id, code): the packed PQ codes. */
  type Tagged = (String, Long, Long, Array[Long])

  /** Rows of (id, vector): seeds or centroids. */
  private final class Table(val ids: Array[Long], val vecs: Array[Array[Long]]) {
    def size: Int = ids.length
    val all: Array[Int] = Array.range(0, ids.length)
  }

  /** The corpus rows with `vec_id < bound` — the seed rule of every fit. */
  private def below(c: Corpus, bound: Long): Table = {
    val idx = c.ids.indices.filter(c.ids(_) < bound)
    new Table(idx.map(i => c.ids(i)).toArray, idx.map(i => c.xq(i)).toArray)
  }

  /** Squared L2 over the common prefix of `a[ao, ao+an)` and `b[bo, bo+bn)`. */
  private def l2(a: Array[Long], ao: Int, an: Int, b: Array[Long], bo: Int, bn: Int): Long = {
    val n = math.min(an, bn)
    var s = 0L
    var i = 0
    while (i < n) { val d = a(ao + i) - b(bo + i); s += d * d; i += 1 }
    s
  }

  private def l2(a: Array[Long], b: Array[Long]): Long = l2(a, 0, a.length, b, 0, b.length)

  /** The `p` candidates with the smallest (dist, id), in that order — a
    * `row_number() <= p` window (p = 1: a `min(struct(dist, id))`). */
  private def nearest(cands: Array[Int], p: Int, id: Int => Long, dist: Int => Long): Array[Int] = {
    val best = new Array[Int](p)
    val bd = new Array[Long](p)
    var n = 0
    var c = 0
    while (c < cands.length) {
      val j = cands(c)
      val dj = dist(j)
      var pos = n
      while (pos > 0 && (dj < bd(pos - 1) || dj == bd(pos - 1) && id(j) < id(best(pos - 1))))
        pos -= 1
      if (pos < p) {
        var q = math.min(n, p - 1)
        while (q > pos) { best(q) = best(q - 1); bd(q) = bd(q - 1); q -= 1 }
        best(pos) = j
        bd(pos) = dj
        if (n < p) n += 1
      }
      c += 1
    }
    java.util.Arrays.copyOf(best, n)
  }

  /** Exact per-(group, position) bigint sums and counts, and each group's
    * rounded-mean integer centroid — the arithmetic of `lloydUpdate` and
    * `centroids`. A group that saw no element has no mean, as a group with
    * no rows has no row there. */
  private final class Means(groups: Int, width: Int) {
    private val sum = new Array[Long](groups * width)
    private val cnt = new Array[Long](groups * width)

    def add(g: Int, x: Array[Long], off: Int, len: Int): Unit = {
      var i = 0
      while (i < len) { sum(g * width + i) += x(off + i); cnt(g * width + i) += 1; i += 1 }
    }

    def mean(g: Int): Option[Array[Long]] = {
      var n = 0
      while (n < width && cnt(g * width + n) > 0) n += 1
      if (n == 0) None
      else Some(Array.tabulate(n)(i =>
        roundHalfAway(sum(g * width + i).toDouble / cnt(g * width + i))))
    }
  }

  /** One round's routing over centroid table `cents`: the fine→coarse map
    * `pf` (`fineParents`: each centroid's nearest coarse seed, -1 when
    * there is none), the coarse→super map `pg` (`superParents`: each
    * childful coarse seed's nearest super, else -1), and the layered
    * `assign` (`assignScaled`). */
  private final class Routing(cents: Table, gseeds: Table, sseeds: Table) {
    val pf: Array[Int] = cents.vecs.map(v =>
      nearest(gseeds.all, 1, gseeds.ids(_), g => l2(v, gseeds.vecs(g))).headOption.getOrElse(-1))
    val pg: Array[Int] = {
      val childful = pf.filter(_ >= 0).toSet
      Array.tabulate(gseeds.size)(g =>
        if (!childful(g)) -1
        else nearest(sseeds.all, 1, sseeds.ids(_), s => l2(gseeds.vecs(g), sseeds.vecs(s)))
          .headOption.getOrElse(-1))
    }
    private val routable = pg.filter(_ >= 0).distinct
    private val coarseOf = gseeds.all.groupBy(g => pg(g))
    private val fineOf = cents.all.groupBy(j => pf(j))

    /** Index into `cents` of `x`'s cell (-1 when no route reaches one):
      * the [[assignSProbe]] nearest routable supers, then the
      * [[assignGProbe]] nearest coarse children across them, then the
      * argmin over those seeds' fine children. */
    def assign(x: Array[Long]): Int = {
      val rs = nearest(routable, assignSProbe, sseeds.ids(_), s => l2(x, sseeds.vecs(s)))
      val rg = nearest(rs.flatMap(coarseOf.getOrElse(_, Array.empty[Int])), assignGProbe,
        gseeds.ids(_), g => l2(x, gseeds.vecs(g)))
      nearest(rg.flatMap(fineOf.getOrElse(_, Array.empty[Int])), 1,
        cents.ids(_), j => l2(x, cents.vecs(j))).headOption.getOrElse(-1)
    }
  }

  /** `kmeansScaledLayer`: k = max(8, N / cellTarget) seeds, one routed
    * assign, the Lloyd update plus ONE capped hot-cell split repair, the
    * round-2 parent maps and the final routed assign, as `member`, `sseed`,
    * `gparent` and `parent` rows. */
  def scaled(c: Corpus): Iterator[Tagged] = {
    val k = math.max(8L, c.size / cellTarget)
    val kcc = kccOf(k)
    val (sseeds, gseeds, c0) = (below(c, kcc), below(c, kcc * kcc), below(c, k))
    val r0 = new Routing(c0, gseeds, sseeds)
    val a1 = c.xq.map(r0.assign)
    val cells = c.ids.indices.filter(a1(_) >= 0).groupBy(i => a1(i))
    val means = new Means(c0.size, c.xq.map(_.length).maxOption.getOrElse(0))
    cells.foreach { case (j, m) => m.foreach(i => means.add(j, c.xq(i), 0, c.xq(i).length)) }
    val lloyd = c0.all.flatMap(j => means.mean(j).map(c0.ids(j) -> _))
    // the split repair: a cell of n ≥ 2·cellTarget members, ranked by
    // (dist DESC, vec_id), seeds cid = k + vec_id at every step-th rank
    // for step = n div (n div cellTarget), at most min(n div cellTarget − 1,
    // splitCap) of them
    val split = cells.toSeq.filter(_._2.size >= 2 * cellTarget).flatMap { case (j, m) =>
      val n = m.size
      val ranked = m.map(i => (l2(c.xq(i), c0.vecs(j)), c.ids(i), i))
        .sortBy { case (d, id, _) => (-d, id) }
      val step = n / (n / cellTarget)
      val extra = math.min(n / cellTarget - 1, splitCap)
      ranked.zipWithIndex.collect { case ((_, id, i), r)
          if (r + 1) % step == 0 && (r + 1) / step <= extra => (k + id) -> c.xq(i) }
    }
    val c1 = new Table((lloyd ++ split).map(_._1).toArray, (lloyd ++ split).map(_._2).toArray)
    val r1 = new Routing(c1, gseeds, sseeds)
    c.xq.indices.iterator.map(i => i -> r1.assign(c.xq(i))).collect {
      case (i, j) if j >= 0 => ("member", c.ids(i), c1.ids(j), null: Array[Long]) } ++
    sseeds.all.iterator.map(s => ("sseed", sseeds.ids(s), 0L, sseeds.vecs(s))) ++
    gseeds.all.iterator.collect { case g if r1.pg(g) >= 0 =>
      ("gparent", gseeds.ids(g), sseeds.ids(r1.pg(g)), gseeds.vecs(g)) } ++
    c1.all.iterator.collect { case j if r1.pf(j) >= 0 =>
      ("parent", c1.ids(j), gseeds.ids(r1.pf(j)), c1.vecs(j)) }
  }

  /** Sub-vector `s` of `x` as (offset, length) — `slice(xq, s·sub + 1, sub)`. */
  private def sub(x: Array[Long], s: Int): (Int, Int) =
    (s * pqSubDim, math.max(0, math.min(pqSubDim, x.length - s * pqSubDim)))

  /** `pqBuildCodebooks` at step 1 (never sampled below the ceiling): per
    * subspace, the `vec_id < pqK` seeds, one argmin round, the rounded-mean
    * codebooks (`cb` rows), and each vector's nearest codeword per subspace
    * packed as code_s << s·pqCodeBits (`code` rows). */
  def pq(c: Corpus): Iterator[Tagged] = {
    val seeds = below(c, pqK)
    val means = new Means(pqM * seeds.size, pqSubDim)
    for (i <- 0 until c.size; s <- 0 until pqM) {
      val x = c.xq(i)
      val (xo, xn) = sub(x, s)
      nearest(seeds.all, 1, seeds.ids(_), j => {
        val (so, sn) = sub(seeds.vecs(j), s)
        l2(x, xo, xn, seeds.vecs(j), so, sn)
      }).foreach(j => means.add(s * seeds.size + j, x, xo, xn))
    }
    val cb = for (s <- 0 until pqM; j <- 0 until seeds.size;
      carr <- means.mean(s * seeds.size + j)) yield (s, seeds.ids(j), carr)
    val book = cb.groupBy(_._1).map { case (s, e) =>
      s -> new Table(e.map(_._2).toArray, e.map(_._3).toArray) }
    val codes = c.xq.indices.iterator.flatMap { i =>
      val x = c.xq(i)
      val picks = book.toSeq.flatMap { case (s, t) =>
        val (xo, xn) = sub(x, s)
        nearest(t.all, 1, t.ids(_), j => l2(x, xo, xn, t.vecs(j), 0, t.vecs(j).length))
          .map(j => t.ids(j) << (s * pqCodeBits))
      }
      if (picks.isEmpty) None else Some(c.ids(i) -> picks.sum)
    }
    cb.iterator.map { case (s, cid, carr) => ("cb", s.toLong, cid, carr) } ++
      codes.map { case (v, code) => ("code", v, code, null: Array[Long]) }
  }
}
