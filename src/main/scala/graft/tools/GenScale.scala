package graft.tools

import org.apache.spark.sql.functions._

/** Scaling-curve data generator: writes an N× replica of an existing SF
  * dir's `documents` + `embeddings` + `events` tables (the inputs of the
  * heavy bench family and the ev_* event-analytics family) so SCALING.md
  * can cover further decades without touching the read-only driver
  * testdata.
  *
  * Replication must not distort the corpus's SIMILARITY STATISTICS in
  * either direction: replica r > 0 applies a per-replica PERMUTATION of
  * the token alphabet [a-z0-9] + [A-Z] (each class permuted within itself)
  * to the whole text (`translate` — row-local, bijective on characters).
  * A bijective character map carries every 5-gram bijectively, so WITHIN a
  * replica every pairwise shingle-Jaccard is EXACTLY the source corpus's
  * value (dup clusters replicate per-replica, never across), while ACROSS
  * replicas two different permutations agree on a gram only by hash-level
  * coincidence — replicas are ordinary distinct documents to
  * MinHash/SimHash/Jaccard (all-punctuation shingles excepted; see
  * [[perm]]'s envelope note). Doc lengths, token boundaries, token
  * lengths, and case statistics are all preserved (each class maps to
  * itself), so the tokenizer-based families see the same shape. The FORMER word-suffix scheme failed this contract from
  * the other side: appending the replica digit to every word planted the
  * digit's grams corpus-wide, INFLATING within-replica similarity — at a
  * 10× slice, est≥0.5 candidate pairs measured 486k vs the 48k a
  * faithful 10× replication implies (and a second application
  * compounded it — the r5 "20-minute 100× stage build" was this
  * generator artifact, not an engine property).
  *
  * Embeddings get a small deterministic per-replica component shift
  * (replicas distinct in vector space); every 50th vec_id remains a query
  * (shift is a multiple of 50), so the query batch scales with the corpus
  * like a real SF increase.
  *
  * Usage: runMain graft.tools.GenScale [srcDir] [outDir] [reps<=10]
  */
object GenScale {

  private val lower = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  /** Full permuted alphabet: lowercase+digits and uppercase as SEPARATE
    * classes — case statistics and tokenizer shape survive the map. */
  private val alphabet = lower + upper

  /** Deterministic permutation of [[alphabet]] for replica r (r = 0 is the
    * identity — the source slice rides unchanged), permuting [a-z0-9] and
    * [A-Z] within their own classes. `salt` varies per OUTPUT slice so
    * stacked applications (sfx10 → sfx100) never compose to a collision:
    * with one fixed seed family, perm(0)∘perm(r) and perm(r)∘perm(0) would
    * make replica pairs (0,r)/(r,0) of the second decade byte-identical
    * corpora — 45k manufactured exact-dup pairs at 100×.
    *
    * Envelope (ADVICE r6): punctuation and whitespace still pass through
    * identically in every replica, so a shingle made ENTIRELY of
    * non-alphanumeric characters (e.g. a 5-gram inside "... -- ...")
    * retains cross-replica overlap; any shingle containing ≥1 alphanumeric
    * character is permuted. On prose-like corpora the all-punctuation
    * shingle mass is negligible, and the synthetic documents table is
    * lowercase alphanumeric + space — fully covered. */
  private[tools] def perm(r: Int, salt: Int): String =
    if (r == 0) alphabet
    else {
      val rnd = new scala.util.Random(1000L + r + 1000003L * salt)
      rnd.shuffle(lower.toList).mkString + rnd.shuffle(upper.toList).mkString
    }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sfx10")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    require(reps >= 1 && reps <= 10, "keep slices one decade per application")
    val spark = graft.core.GraftSession.builder(
      graft.core.GraftSession.cores, "graft-genscale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Per-table replica id shift DERIVED from the source's max id, rounded
    // up to a multiple of 50 (the vec_id query selector). A FIXED shift
    // (the former 1e7) collides on stacked applications: sfx10's ids
    // already span 0..9×1e7+N, so the sfx100 pass folded 100 replicas
    // into 19 overlapping id bands — up to 10 DIFFERENT docs sharing one
    // doc_id, corrupting every id-keyed join and dedup statistic at the
    // fourth/fifth decade.
    def shiftFor(df: org.apache.spark.sql.DataFrame, idCol: String): Long = {
      val mx = df.agg(max(col(idCol))).head.getLong(0)
      (mx / 50 + 1) * 50
    }

    // optional 4th arg: comma-list of tables to replicate (default all) —
    // the SEVENTH-decade slice needs only embeddings (20M vectors, the
    // similarity chain), and writing the unused 1B-row events table would
    // cost ~25 GB of disk for nothing
    val known = Set("documents", "embeddings", "events")
    val tables: Set[String] = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(known)
    // ADVICE r9: a typo ('embedding') must fail loud, not silently write
    // nothing; and a subset regen into an existing dir leaves STALE sibling
    // tables from a prior run — possibly at a different replication factor
    // — producing a silently inconsistent slice
    val unknown = tables -- known
    require(unknown.isEmpty,
      s"unknown table name(s) ${unknown.mkString(", ")}; valid: ${known.mkString(", ")}")
    (known -- tables).foreach { t =>
      if (new java.io.File(s"$out/$t.parquet").exists())
        System.err.println(s"[genscale] WARNING: $out/$t.parquet exists from " +
          s"a prior run and is NOT being regenerated — if its replication " +
          s"factor differs from this run's ($reps), the slice is inconsistent")
    }

    val salt = (out.hashCode & 0x7fffffff) % 1000000
    if (tables("documents")) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val docShift = shiftFor(docs, "doc_id")
      val docReps = (0 until reps).map { r =>
        if (r == 0) docs
        else docs.select(
          (col("doc_id") + lit(r * docShift)).as("doc_id"),
          // bijective char map -> same within-replica similarity, disjoint
          // across replicas
          expr(s"translate(text, '$alphabet', '${perm(r, salt)}')").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      docReps.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    if (tables("embeddings")) {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embShift = shiftFor(emb, "vec_id") // multiple of 50: query sel preserved
    val embReps = (0 until reps).map { r =>
      if (r == 0) emb
      else emb.select(
        (col("vec_id") + lit(r * embShift)).as("vec_id"),
        expr(s"transform(embedding, v -> cast(v + ${r * 0.0011} as float))").as("embedding"),
        col("label"))
    }
    embReps.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    if (tables("events")) {
    // events: replicas shift user_id (and event_id for uniqueness) but keep
    // timestamps — growth adds USERS, the realistic scale direction for the
    // ev_* family (per-user history length is activity-bounded, not
    // corpus-bounded; a ts-shifted replica would instead grow every user's
    // history 10× and misrepresent the user-partitioned window cost).
    val ev = graft.core.Tables.load(spark, src, "events")
    val userShift = shiftFor(ev, "user_id")
    val eventShift = shiftFor(ev, "event_id")
    val evReps = (0 until reps).map { r =>
      if (r == 0) ev
      else ev.withColumn("user_id", col("user_id") + lit(r * userShift))
        .withColumn("event_id", col("event_id") + lit(r * eventShift))
    }
    evReps.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    def countOf(t: String): String =
      if (!tables(t)) "-"
      else spark.read.parquet(s"$out/$t.parquet").count().toString
    println(s"[genscale] wrote $out: ${countOf("documents")} documents, " +
      s"${countOf("embeddings")} embeddings, ${countOf("events")} events ($reps x $src)")
    spark.stop()
  }
}
