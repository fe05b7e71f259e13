package graft.llm

/** Cross-engine deterministic hashing for the LLM-pipeline operators.
  *
  * Every hash here must produce bit-identical values in BOTH Spark and the
  * DuckDB oracle, so the primitive is md5 (identical everywhere) folded to a
  * 60-bit BIGINT, then reduced mod P and re-randomized per seed with an
  * affine universal hash `h_s = (A_s*h + B_s) % P`. All intermediate products
  * stay below 2^63 (A_s, h < 1e9+7 → product < ~1e18).
  *
  * Production note: Spark's codegen'd `xxhash64` is ~3× cheaper than md5 and
  * would replace [[sparkH]] on a real cluster — the algebra downstream is
  * unchanged; md5 is used here because the correctness oracle must be able
  * to reproduce every bit in another engine.
  */
object LlmHash {
  /** Modulus for affine re-hashing (large prime < 2^30). */
  val P = 1000000007L

  /** Spark SQL fragment: fold md5(e) to a positive 60-bit BIGINT via the
    * codegen'd [[graft.functions.Md5Long]] (no hex-string round-trip). The
    * composed built-in form `cast(conv(substring(md5(e),1,15),16,10) as
    * bigint)` is bit-identical, just ~2x slower in the gram hot loop. */
  def sparkH(e: String): String = s"md5_long60($e)"

  /** DuckDB twin of [[sparkH]] — same 15 hex chars, same value. */
  def duckH(e: String): String =
    s"('0x' || substring(md5($e),1,15))::BIGINT"

  def sparkHm(e: String): String = s"(${sparkH(e)} % $P)"
  def duckHm(e: String): String = s"(${duckH(e)} % $P)"

  /** Per-seed affine constants (JVM-stable fixed-seed PRNG; rendered as
    * literals into both engines' SQL, so the draw mechanism never has to be
    * reproduced outside the JVM). */
  private val rng = new scala.util.Random(42)
  // the extension draws (a1/b1, for simhash bits 32..59) come AFTER the
  // original 48-pair sequence so every seed pair that existed before the
  // 60-bit simhash widening — and with them all minhash signatures and the
  // first 32 simhash bit-weights — is bit-identical to the 48-seed era
  private val a0 = IndexedSeq.fill(48)(1L + rng.nextInt(999999999).toLong)
  private val b0 = IndexedSeq.fill(48)(rng.nextInt(999999999).toLong)
  private val a1 = IndexedSeq.fill(28)(1L + rng.nextInt(999999999).toLong)
  private val b1 = IndexedSeq.fill(28)(rng.nextInt(999999999).toLong)
  val A: IndexedSeq[Long] = a0 ++ a1
  val B: IndexedSeq[Long] = b0 ++ b1

  /** Seed-s affine re-hash of an expression already reduced mod P.
    * Engine-neutral SQL (plain `*`, `+`, `%`). */
  def affine(s: Int, h: String): String = s"((${A(s)} * $h + ${B(s)}) % $P)"

  /** Random hyperplanes for sign-LSH over the 64-dim embeddings: 3-dp
    * literals so the rendered decimal parses to the same IEEE double in
    * Scala, Catalyst, and DuckDB. */
  val dims = 64
  val nPlanes = 8
  val hyperplanes: Seq[Seq[Double]] = {
    val r = new scala.util.Random(1234)
    Seq.fill(nPlanes)(Seq.fill(dims)(math.rint(r.nextGaussian() * 1000) / 1000.0))
  }

  /** DuckDB literal `[...]::DOUBLE[]` for hyperplane j. */
  def planeDuck(j: Int): String =
    hyperplanes(j).map(v => f"$v%.3f").mkString("[", ",", "]") + "::DOUBLE[]"

  /** Spark SQL literal `array(...D)` for hyperplane j. */
  def planeSpark(j: Int): String =
    hyperplanes(j).map(v => f"${v}%.3fD").mkString("array(", ",", ")")
}
