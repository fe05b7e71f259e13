package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.batch.Q
import graft.core.Tables
import LlmHash._

/** Text analysis for LLM training-data pipelines over `documents.parquet` —
  * north-star work, no reference counterpart.
  *
  *   - `tx_stats`       token counts, lexical diversity, stopword ratio,
  *                      average token length — per-doc quality features
  *   - `tx_langid`      stopword-list language scoring with a deterministic
  *                      argmax — the classic n-gram-free lang-id heuristic
  *   - `tx_chunks`      fixed-width chunking with overlap (500 chars,
  *                      step 400) — the pre-tokenization splitter
  *   - `tx_fingerprint` winnowing document fingerprints: k-gram hashes,
  *                      min per sliding window, distinct — the
  *                      plagiarism/near-dup fingerprint set
  *
  * Everything is array-expression Catalyst (regexp_extract_all + lambda
  * functions), no UDFs: the per-doc work stays inside whole-stage codegen
  * and parallelizes embarrassingly (one doc never crosses a partition).
  * The only shuffles are the final ORDER BYs (verification canonicalization,
  * not part of the operator).
  */
object TextQueries {

  private[llm] val tokRegex = "[a-z0-9]+"

  /** tx_dsir hashed-feature bucket count — small here so the sf0.01 oracle
    * exercises real bucket collisions; production DSIR uses ~1e4 buckets
    * (still a constant-size broadcast table). */
  private[llm] val dsirB = 64

  /** (doc_id, lang, b): one hashed-feature row per token occurrence — the
    * shared front of tx_dsir and its streaming twin. */
  private[graft] def dsirFeaturesDF(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("tok"))
      .select(col("doc_id"), col("lang"),
        expr(s"md5_long60(concat('dsir:', tok)) % $dsirB").as("b"))

  /** ($dsirB-row) bucket → scaled-long log-likelihood ratio table — the
    * batch-trained serving artifact the streaming gate pins (the lm-gate /
    * boiler-set stance). One identical double chain per bucket from exact
    * integer counts, quantized at 6 dp.
    *
    * DENSE over all $dsirB buckets: the grouped counts only produce rows
    * for buckets the training corpus touched, but the table's consumers
    * left-join by bucket and coalesce misses to 0 — so a STREAMED token
    * hashing into an untouched bucket would score 0 instead of the
    * smoothed prior ln((traw+B)/(ttgt+B)) the add-one chain assigns to a
    * zero-count bucket. A 64-row range spine closes that envelope; the
    * batch scorer is unaffected (its doc buckets are by construction a
    * subset of the trained buckets). */
  private[graft] def dsirLrDF(f: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val raw = f.groupBy("b").agg(count(lit(1)).as("craw"))
    val tgt = f.filter(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ctgt"))
    val tots = f.agg(count(lit(1)).as("traw"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ttgt"))
    val spine = f.sparkSession.range(dsirB).select(col("id").as("b"))
    spine.join(raw, Seq("b"), "left").join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(tots)) // 1-row totals
      .select(col("b"), expr(
        s"cast(round(ln((cast(coalesce(ctgt, 0) + 1 as double) * (traw + $dsirB)) / " +
          s"(cast(coalesce(craw, 0) + 1 as double) * (ttgt + $dsirB))) * 1000000, 0) as bigint)").as("lr"))
  }

  /** The full tx_dsir body (UNORDERED — the query sorts): features →
    * ratio table → per-doc integer dot product. */
  private[llm] def dsirScoreDF(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val f = dsirFeaturesDF(docs)
      .persist(StorageLevel.MEMORY_AND_DISK) // read 4x (raw/tgt/tots/dc)
    val lr = dsirLrDF(f)
    val dc = f.groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
    val sc = dc.join(broadcast(lr), "b") // $dsirB-row constant table
      .groupBy("doc_id").agg(sum(col("n") * col("lr")).as("score_micro"))
    docs.select("doc_id", "lang")
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("score_micro"), lit(0L)).as("score_micro"))
  }
  /** BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
    * symbol. Disjoint branches → identical matches in Java and RE2. */
  private val pieceRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  private val stopEn = "'the','a','of','to','and','in','is','on','for','it'"
  private val stopDe = "'der','die','das','und','ist','nicht','mit','ein','ich','zu'"
  private val stopEs = "'el','la','que','y','en','un','es','se','no','por'"
  private val stopFr = "'le','les','et','un','que','pour','dans','ce','il','au'"

  /** tx_pmi: a pair must occur at least this often to be scored (PMI on
    * singleton counts is pure noise). */
  private val pmiMinCount = 5

  private[llm] val chunkLen = 500
  private[llm] val chunkStep = 400
  private val gramLen = 8
  private val winLen = 16 // winnowing window: min over this many k-gram hashes
  /** dd_contain: fingerprints in more than this many docs are corpus-wide
    * boilerplate — excluded from containment pairing (cap stance). */
  private val containCap = 64

  /** Distinct (doc_id, gh) word-3-gram 60-bit hashes over any (doc_id,
    * text) frame — tx_novelty's gram universe, also the build side of the
    * streaming novelty gate's bloom (StreamingCorpusPrep.noveltyStream).
    * Codegen explode + md5 projection; the hash is applied BEFORE the
    * distinct so only 8-byte keys shuffle. */
  private[llm] def wordGramHashes(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))"))
        .as("gram"))
      .select(col("doc_id"), expr(sparkH("gram")).as("gh"))
      .distinct()
  private val kmvK = 64 // KMV sketch size (bottom-k minimum hash values)
  private val kmvSalts = 8 // level-1 fan-out for the skew-safe bottom-k
  private val stratSalts = 8 // per-stratum allocation cells for tx_stratified_sample
  /** tx_quality_curve sweep points: keep iff raw ≥ t·n_tokens, t in
    * thousandths of the weight unit (qscore ≥ t/1000). */
  private val qCurveTs = Seq(-50, -20, 0, 20, 50)

  /** tx_budget_select token budget, in mills of the corpus total (400 =
    * keep the best 40% of tokens). Declared BEFORE [[all]] — the oracle
    * SQL interpolates it eagerly at object init. */
  private val budgetMill = 400L

  /** Hashed-linear quality model CTEs shared by tx_quality_score and
    * tx_quality_curve: `agg(doc_id, raw, n_tokens)` — exact-integer score
    * numerator per doc. (Initialized before `all`; see the annCtes note.) */
  private lazy val qualityAggCtes: String = {
    val wDuck = s"((${duckH(s"'qw:' || CAST(i AS VARCHAR)")} % 2001) - 1000)"
    val idxDuck = s"(${duckH("'qf:' || token")} % $qfDim)"
    s"""wt AS (
       |  SELECT CAST(i AS BIGINT) AS idx, $wDuck AS w
       |  FROM unnest(generate_series(0, ${qfDim - 1})) AS g(i)
       |),
       |tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$tokRegex')) AS token FROM documents),
       |tc AS (
       |  SELECT doc_id, $idxDuck AS idx, CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY doc_id, idx
       |),
       |agg AS (
       |  SELECT tc.doc_id, CAST(sum(tc.c * wt.w) AS BIGINT) AS raw, CAST(sum(tc.c) AS BIGINT) AS n_tokens
       |  FROM tc JOIN wt USING (idx) GROUP BY tc.doc_id
       |)""".stripMargin
  }
  private val rareBigramCnt = 50 // corpus count below which a bigram is "rare"
  private val lineWords = 5 // words per synthetic "line" (corpus text is single-line)
  // Gopher-style composite gate thresholds (Rae et al. repetition rules,
  // adapted to the synthetic corpus's scale)
  private val gMinWords = 10
  private val gMaxWords = 100000
  private val gMinWlen = 2.0
  private val gMaxWlen = 12.0
  private val gDupLine = 0.30 // within-doc duplicate-line occurrence fraction
  private val gDupLineChar = 0.20 // char-weighted version of the same
  private val gTop2 = 0.20 // top word-2-gram share of all 2-grams
  private val gDup3 = 0.30 // occurrences of repeated 3-grams / all 3-grams

  private val boilerDf = 3 // distinct docs containing a line before it counts as boilerplate
  private val evalMod = 41 // doc_id % evalMod == 0 → held-out eval/benchmark doc
  // Token n-gram length for decontamination. Production suites use 8-13;
  // on this synthetic word-salad corpus verbatim 8-gram collisions simply
  // don't occur (measured: zero at sf0.01), which would make the overlap
  // columns vacuously zero — 4 yields real positives so the oracle gates
  // actual hit counting, not just the zero path.
  private val decontamGram = 4
  private val packBudget = 2048 // tokens per packed training sequence
  private val packShards = 16 // parallel packing streams per language
  private val srcCap = 15 // max docs kept per source (domain balancing)
  private val srcSalts = 8 // level-1 fan-out for the skew-safe top-k
  private val bloomExpected = 100000L // bloom capacity: benchmark-suite-sized
  private val bpeIters = 3 // BPE merge rounds (inherently serial)
  /** Deny-list for tx_blocklist: corpus vocabulary standing in for a real
    * bad-words list (the synthetic corpus contains nothing actually bad). */
  private val blockList = "'slow','mojibake','gibberish'"
  private val shufShards = 8 // training shards for tx_shuffle
  private val triProfile = 40 // trigrams per language profile (textcat)
  private val bm25TopK = 10 // results per retrieval query

  /** RRF fusion scale: lcm(61..70), so every 1/(60+rank) contribution for
    * ranks 1..[[bm25TopK]] is an EXACT integer L/(60+r) — the fused score
    * is a pure BIGINT sum (max 2 legs · L/61 ≈ 4.7e12, far inside long). */
  private val rrfL: Long = {
    @annotation.tailrec def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (61L to 70L).foldLeft(1L)((l, x) => l / gcd(l, x) * x)
  }
  private val bm25QTok = 8 // query = first 8 tokens of each held-out eval doc
  private val qfDim = 1024 // hashed feature dim for the quality classifier

  /** PII regexes: bracket classes only — no backslash escapes, no word
    * boundaries — so Java regex (Spark) and RE2 (DuckDB) agree exactly.
    * Scrub order matters where patterns could nest: email first. */
  private val piiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
  private val piiPhone = "555-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
  private val piiIp = "10[.][0-9]+[.][0-9]+[.][0-9]+"

  /** tx_bm25 body over any (doc_id, text) frame — factored so the spec can
    * drive it with planted term overlaps. Queries are the first [[bm25QTok]]
    * tokens of each `doc_id % evalMod == 0` doc; k1=1.2, b=0.75 (written as
    * 2.2 = k1+1 and 0.25 = 1-b); contributions quantize to 6-dp scaled longs
    * so the per-doc sum and the rank key are exact integers. */
  private[llm] def bm25DF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // ONE tokenize pass over the corpus: doc length derives from the
    // postings (dl = Σtf — token-less docs can't score under BM25 anyway,
    // so they are absent from dl/avgdl by construction in BOTH engines);
    // only the 1/evalMod eval slice is tokenized a second time for the
    // ordered query prefix
    val tf = docs.select(col("doc_id"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // four consumers (postings join, dfreq, dl, corpus stats) — without
      // this the tokenize+aggregate pipeline replays once per consumer
      // (Catalyst has no common-subplan reuse across DataFrame branches)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = dl.agg(
      expr("cast(sum(dl) as double) / count(*)").as("avgdl"),
      count(lit(1)).as("n_docs"))
    val qt = docs.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id").as("query_id"),
        explode(expr(s"slice(regexp_extract_all(lower(text), '$tokRegex', 0), 1, $bm25QTok)")).as("token"))
      .distinct()
    val contrib = "ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))" +
      " * (tf * 2.2D) / (tf + 1.2D * (0.25D + 0.75D * dl / avgdl))"
    // contribution depends only on the POSTING (doc, token) — score each
    // posting ONCE before the query fan-out, so the ln() chain runs |tf|
    // times instead of |tf|·queries-per-token times and the fanned-out
    // rows carry one precomputed long (also amortizes across query
    // batches at scale)
    val wtf = tf
      .join(dfreq, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats)) // 1-row corpus stats
      .select(col("token"), col("doc_id"),
        expr(s"cast(round(($contrib) * 1000000, 0) as bigint)").as("qc"))
    val sc = qt.join(wtf, "token") // query-term side is benchmark-sized → AQE broadcast
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum("qc").as("sq"))
    val w = Window.partitionBy("query_id").orderBy(col("sq").desc, col("doc_id"))
    sc.withColumn("rn", row_number().over(w)).filter(col("rn") <= bm25TopK)
      // UNROUNDED: sq is an exact scaled integer, so sq/1e6 rounds onto
      // 4-dp ties whenever sq % 50 == 0 (the Q.exactSum pitfall — bit at
      // sf0.1 only); the single division itself is engine-identical
      .select(col("query_id"), col("doc_id"),
        expr("cast(sq as double) / 1000000").as("bm25"))
      .orderBy("query_id", "doc_id")
  }

  /** BPE training over any (doc_id, text) frame: returns the learned merge
    * table (unordered, with merge_rank) AND the fully-merged corpus state
    * `(doc_id, s)` after all [[bpeIters]] rounds — the latter is what
    * `tx_bpe_apply` reports on, for free, since training materializes it
    * anyway. Factored so the spec can drive it with known frequencies. */
  private[llm] def bpeTrain(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    var state = docs
      .select(col("doc_id"),
        expr(s"array_join(regexp_extract_all(lower(text), '$tokRegex', 0), '  ')").as("s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merges = (1 to bpeIters).map { rank =>
      // explode positions + codegen'd concat projection: the former
      // transform(sequence, j -> concat(...)) lambda ran interpreted per
      // token over the whole corpus, once per merge round (Generate and
      // Project fuse in one codegen stage — the carried array never
      // crosses an exchange)
      val pairs = state
        .select(split(col("s"), "  ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("t"), explode(expr("sequence(1, size(t) - 1)")).as("j"))
        .select(expr("concat(element_at(t, j), '  ', element_at(t, j + 1))").as("pair"))
      val m = pairs.groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("pair")).limit(1)
        .select(lit(rank).as("merge_rank"), col("pair"),
          expr("replace(pair, '  ', '~')").as("merged"), col("freq"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      state = state
        .crossJoin(m.select(col("pair").as("mpair"), col("merged").as("mmerged")))
        .select(col("doc_id"),
          expr("trim(replace(concat(' ', s, ' '), concat(' ', mpair, ' '), concat(' ', mmerged, ' ')))").as("s"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      m
    }
    val mergeTable = merges.reduce(_ union _)
      .select(col("merge_rank"), expr("replace(pair, '  ', ' ')").as("pair"),
        col("merged"), col("freq"))
    (mergeTable, state)
  }

  /** tx_bpe body (merge table only) — the spec's entry point. */
  private[llm] def bpeMergesDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bpeTrain(docs)._1.orderBy("merge_rank")

  /** DuckDB CTE chain for winnowed Rabin–Karp fingerprints, ending in
    * `fps(doc_id, fp)` — shared by tx_rolling_fp and dd_spans. The direct
    * polynomial form is congruent to the Spark side's rolling hash. */
  private def rollingFpCtes: String = {
    val P = graft.functions.RollingHash.P
    val B = graft.functions.RollingHash.B
    val bp = Iterator.iterate(1L)(v => v * B % P).take(8).toIndexedSeq // B^0..B^7 mod P
    val terms = (0 until 8)
      .map(j => s"(CAST(ord(substring(text, CAST(i + $j AS INT), 1)) AS BIGINT) * ${bp(7 - j)}) % $P")
      .mkString(" + ")
    s"""rh AS (
       |  SELECT doc_id, i AS pos, ($terms) % $P AS h, length(text) - 7 AS ng
       |  FROM documents, unnest(generate_series(1, length(text) - 7)) AS t(i)
       |  WHERE length(text) >= 8
       |),
       |w AS (
       |  SELECT doc_id, pos, ng,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND ${winLen - 1} FOLLOWING) AS fp
       |  FROM rh
       |),
       |fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= greatest(ng - ${winLen - 1}, 1))""".stripMargin
  }

  /** DuckDB CTE chain for BPE training: `s1` (double-space-joined tokens)
    * through `s${bpeIters+1}` (fully merged) with `m1..m$bpeIters` merge
    * rows — shared by tx_bpe and tx_bpe_apply. */
  private def bpeOracleCtes: String = {
    def iterCtes(i: Int) =
      s"""p$i AS (
         |  SELECT t[CAST(j AS INT)] || '  ' || t[CAST(j+1 AS INT)] AS pair
         |  FROM (SELECT string_split(s, '  ') AS t FROM s$i),
         |    unnest(generate_series(1, len(t) - 1)) AS u(j)
         |  WHERE len(t) >= 2
         |),
         |m$i AS (
         |  SELECT $i AS merge_rank, pair, replace(pair, '  ', '~') AS merged,
         |    CAST(count(*) AS BIGINT) AS freq
         |  FROM p$i GROUP BY pair
         |  QUALIFY row_number() OVER (ORDER BY freq DESC, pair) = 1
         |),
         |s${i + 1} AS (
         |  SELECT doc_id,
         |    trim(replace(' ' || s || ' ', ' ' || m$i.pair || ' ', ' ' || m$i.merged || ' ')) AS s
         |  FROM s$i, m$i
         |)""".stripMargin
    s"""s1 AS (
       |  SELECT doc_id, array_to_string(regexp_extract_all(lower(text), '$tokRegex'), '  ') AS s
       |  FROM documents
       |),
       |${(1 to bpeIters).map(iterCtes).mkString(",\n")}""".stripMargin
  }

  /** The PII scrub chain over a column named `raw` — shared by tx_pii and
    * the streaming form (a pure projection lifts to streams unchanged). */
  private[llm] val scrubSparkSql: String =
    s"""regexp_replace(regexp_replace(regexp_replace(raw,
       |  '$piiEmail', '<EMAIL>'),
       |  '$piiPhone', '<PHONE>'),
       |  '$piiIp', '<IP>')""".stripMargin

  /** Deterministic PII injection (test-data generation for tx_pii): the
    * corpus has no real PII, so doc_id-derived email/phone/IP strings are
    * appended to a doc_id-selected subset. `cst` renders the engine's
    * string cast (VARCHAR vs STRING); everything else is engine-neutral. */
  private def piiInjectSql(cst: String => String): String =
    s"""text ||
       |CASE WHEN doc_id % 3 = 0 THEN ' contact user' || ${cst("doc_id")} || '@mail-archive.example.com now' ELSE '' END ||
       |CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(${cst("doc_id % 1000")}, 3, '0') || '-' || lpad(${cst("doc_id % 10000")}, 4, '0') || ' today' ELSE '' END ||
       |CASE WHEN doc_id % 7 = 0 THEN ' host 10.' || ${cst("doc_id % 256")} || '.' || ${cst("doc_id * 7 % 256")} || '.' || ${cst("doc_id * 13 % 256")} ELSE '' END""".stripMargin

  /** tx_source_cap body over any (doc_id, source) frame — factored so the
    * skew spec can prove two-level == direct-window on a synthetic
    * mega-source. */
  private[llm] def sourceCapDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val h = sparkH("concat('cap:', cast(doc_id as string))")
    val base = docs
      .select(col("doc_id"), col("source"), expr(h).as("h"),
        (col("doc_id") % srcSalts).as("salt"))
    val w1 = Window.partitionBy("source", "salt").orderBy(col("h"), col("doc_id"))
    val w2 = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    base
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= srcCap)
      .withColumn("cap_rank", row_number().over(w2).cast("long"))
      .filter(col("cap_rank") <= srcCap)
      .select("doc_id", "source", "cap_rank")
  }

  /** Direct single-window form of [[sourceCapDF]] — the spec's equivalence
    * reference (exactly the oracle's shape; parallelism-1 per source). */
  private[llm] def sourceCapDirectDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val h = sparkH("concat('cap:', cast(doc_id as string))")
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("source"), expr(h).as("h"))
      .withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= srcCap)
      .select("doc_id", "source", "cap_rank")
  }

  /** Keep/drop rule chain shared by tx_quality_filter and the corpus-prep
    * pipeline. Engine-neutral except the double literals (D suffix on the
    * Spark side). */
  private def rulesCase(d: String): String =
    s"""CASE WHEN n_tokens < 10 THEN 'too_short'
       |     WHEN n_tokens > 5000 THEN 'too_long'
       |     WHEN uniq_r < 0.3 THEN 'low_diversity'
       |     WHEN stop_r > 0.5 THEN 'stopword_heavy'
       |     WHEN avg_len < 2.0$d OR avg_len > 12.0$d THEN 'weird_tokens'
       |     ELSE 'ok' END""".stripMargin
  private[llm] val rulesSqlDuck = rulesCase("")
  private[llm] val rulesSqlSpark = rulesCase("D")

  /** Oracle CTEs ending in `qual(doc_id, keep)` — the quality gate. */
  private[llm] val qualityCtes: String =
    s"""qt AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
       |qf AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1) AS uniq_r,
       |    len(list_filter(toks, x -> list_contains([$stopEn], x))) * 1.0 / greatest(len(toks), 1) AS stop_r,
       |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / greatest(len(toks), 1) AS avg_len
       |  FROM qt
       |),
       |qual AS (
       |  SELECT doc_id, CAST(CASE WHEN ($rulesSqlDuck) = 'ok' THEN 1 ELSE 0 END AS INT) AS keep
       |  FROM qf
       |)""".stripMargin

  /** Spark twin of [[qualityCtes]] over ANY frame with (doc_id, text) —
    * a pure projection, so it runs unchanged on a stream (see
    * StreamingCorpusPrep). Keeps all input columns + `keep`. */
  private[llm] def withQualityKeep(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)"))
      .withColumn("n_tokens", expr("cast(size(toks) as bigint)"))
      .withColumn("uniq_r", expr("size(array_distinct(toks)) * 1.0D / greatest(size(toks), 1)"))
      // the one surviving row-local lambda: occurrence-exact stopword
      // counting has no native form (array_intersect dedups; a 10-deep
      // array_remove chain allocates 9 intermediate arrays/row), and this
      // gate must stay a pure PROJECTION so the streaming prep can reuse
      // it — the explode+IN form (tx_langid) needs a groupBy
      .withColumn("stop_r", expr(s"size(filter(toks, x -> array_contains(array($stopEn), x))) * 1.0D / greatest(size(toks), 1)"))
      .withColumn("avg_len", expr("cast(length(array_join(toks, '')) as double) / greatest(size(toks), 1)"))
      .withColumn("keep", expr(s"CAST(CASE WHEN ($rulesSqlSpark) = 'ok' THEN 1 ELSE 0 END AS INT)"))
      .drop("toks", "n_tokens", "uniq_r", "stop_r", "avg_len")

  /** Spark twin of [[qualityCtes]]: (doc_id, keep). */
  private[llm] def qualityKeepDF(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    withQualityKeep(Tables.documents(s, d).select("doc_id", "text"))
      .select("doc_id", "keep")

  val all: Seq[Q] = Seq(

    // Token counting covers three tokenizers: the word regex (n_tokens),
    // plain whitespace split (n_tokens_ws), and a BPE-ish piece regex that
    // segments letter runs / digit runs / single punctuation (n_pieces) —
    // the pre-tokenizer shape of byte-pair encoders. The alternation's
    // branches are disjoint character classes, so Java (leftmost-first)
    // and RE2 (leftmost-longest) agree.
    Q("tx_stats",
      s"""WITH t AS (SELECT doc_id, text, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
         |  CAST(len(regexp_extract_all(lower(text), '$pieceRegex')) AS BIGINT) AS n_pieces,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
         |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / greatest(len(toks), 1), 4) AS avg_token_len,
         |  round(len(list_filter(toks, x -> list_contains([$stopEn], x))) * 1.0 / greatest(len(toks), 1), 4) AS stop_ratio,
         |  round(len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 4) AS uniq_ratio
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
        .select(col("doc_id"),
          expr("cast(size(toks) as bigint)").as("n_tokens"),
          expr("cast(size(split(text, ' ', -1)) as bigint)").as("n_tokens_ws"),
          expr(s"cast(size(regexp_extract_all(lower(text), '$pieceRegex', 0)) as bigint)").as("n_pieces"),
          expr("cast(size(array_distinct(toks)) as bigint)").as("n_uniq"),
          expr("round(cast(length(array_join(toks, '')) as double) / greatest(size(toks), 1), 4)").as("avg_token_len"),
          // NB: `1.0` in a Spark SQL string is a DECIMAL literal (unlike
          // Scala-side 1.0) — `1.0D` keeps the division in DOUBLE like DuckDB
          expr(s"round(size(filter(toks, x -> array_contains(array($stopEn), x))) * 1.0D / greatest(size(toks), 1), 4)").as("stop_ratio"),
          expr("round(size(array_distinct(toks)) * 1.0D / greatest(size(toks), 1), 4)").as("uniq_ratio"))
        .orderBy("doc_id")
    },

    Q("tx_langid",
      s"""WITH t AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |sc AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(toks, x -> list_contains([$stopEn], x))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(toks, x -> list_contains([$stopDe], x))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(toks, x -> list_contains([$stopEs], x))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(toks, x -> list_contains([$stopFr], x))) AS BIGINT) AS s_fr
         |  FROM t
         |)
         |SELECT doc_id, lang AS declared_lang, s_en, s_de, s_es, s_fr,
         |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted_lang
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Spark body: one explode + conditional-sum aggregation (whole-stage
      // codegen'd `IN` over literal sets) — the list_filter lambda form
      // runs interpreted, one call per (token, language). Aggregating on
      // doc_id also map-side-combines before the (only) shuffle. The
      // grouped scores join back to `documents` so token-free docs keep a
      // zero score row, matching the oracle.
      val docs = Tables.documents(s, d)
      val scores = docs
        .select(col("doc_id"),
          explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("t"))
        .groupBy("doc_id")
        .agg(
          expr(s"sum(CASE WHEN t IN ($stopEn) THEN 1 ELSE 0 END)").as("s_en"),
          expr(s"sum(CASE WHEN t IN ($stopDe) THEN 1 ELSE 0 END)").as("s_de"),
          expr(s"sum(CASE WHEN t IN ($stopEs) THEN 1 ELSE 0 END)").as("s_es"),
          expr(s"sum(CASE WHEN t IN ($stopFr) THEN 1 ELSE 0 END)").as("s_fr"))
      docs.select(col("doc_id"), col("lang").as("declared_lang"))
        .join(scores, Seq("doc_id"), "left")
        .select(col("doc_id"), col("declared_lang"),
          coalesce(col("s_en"), lit(0L)).as("s_en"),
          coalesce(col("s_de"), lit(0L)).as("s_de"),
          coalesce(col("s_es"), lit(0L)).as("s_es"),
          coalesce(col("s_fr"), lit(0L)).as("s_fr"))
        .withColumn("predicted_lang",
          expr("""CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                 |     WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                 |     WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END""".stripMargin))
        .orderBy("doc_id")
    },

    // Language confusion matrix — the corpus-level rollup of tx_langid's
    // per-doc verdicts: (declared, predicted, n, share-of-declared), the
    // audit that catches mislabeled sources and a weak classifier in one
    // table. Identical stopword scoring + argmax CASE as tx_langid; the
    // rollup is langs²-sized and map-side combined, the share an
    // unrounded exact-integer quotient against the declared-language
    // total carried through a lang-sized join.
    Q("tx_lang_confusion",
      s"""WITH t AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |sc AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(toks, x -> list_contains([$stopEn], x))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(toks, x -> list_contains([$stopDe], x))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(toks, x -> list_contains([$stopEs], x))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(toks, x -> list_contains([$stopFr], x))) AS BIGINT) AS s_fr
         |  FROM t
         |),
         |pred AS (
         |  SELECT lang AS declared_lang,
         |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |         WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted_lang
         |  FROM sc
         |),
         |cm AS (
         |  SELECT declared_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2
         |),
         |dt AS (SELECT declared_lang, CAST(sum(n) AS BIGINT) AS n_declared FROM cm GROUP BY 1)
         |SELECT cm.declared_lang, cm.predicted_lang, cm.n, dt.n_declared,
         |  cm.n * 1.0 / dt.n_declared AS share
         |FROM cm JOIN dt ON dt.declared_lang = cm.declared_lang
         |ORDER BY cm.declared_lang, cm.predicted_lang""".stripMargin) { (s, d) =>
      val pred = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("t"))
        .groupBy("doc_id", "lang")
        .agg(
          expr(s"sum(CASE WHEN t IN ($stopEn) THEN 1 ELSE 0 END)").as("s_en"),
          expr(s"sum(CASE WHEN t IN ($stopDe) THEN 1 ELSE 0 END)").as("s_de"),
          expr(s"sum(CASE WHEN t IN ($stopEs) THEN 1 ELSE 0 END)").as("s_es"),
          expr(s"sum(CASE WHEN t IN ($stopFr) THEN 1 ELSE 0 END)").as("s_fr"))
        // docs with zero tokens score (0,0,0,0) in the oracle's list_filter
        // form but drop out of the explode — restore them via the doc base
        .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
          Seq("doc_id", "lang"), "right")
        .na.fill(0L, Seq("s_en", "s_de", "s_es", "s_fr"))
        .select(col("lang").as("declared_lang"),
          expr("""CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                 |     WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                 |     WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END""".stripMargin)
            .as("predicted_lang"))
      val cm = pred.groupBy("declared_lang", "predicted_lang").agg(count(lit(1)).as("n"))
      val dt = cm.groupBy("declared_lang").agg(sum("n").as("n_declared"))
      cm.join(dt, "declared_lang") // langs-sized both sides
        .select(col("declared_lang"), col("predicted_lang"), col("n"), col("n_declared"),
          expr("n * 1.0D / n_declared").as("share"))
        .orderBy("declared_lang", "predicted_lang")
    },

    Q("tx_chunks",
      s"""SELECT doc_id,
         |  CAST((pos - 1) // $chunkStep AS BIGINT) AS chunk_idx,
         |  CAST(pos AS BIGINT) AS chunk_pos,
         |  CAST(length(substring(text, CAST(pos AS INT), $chunkLen)) AS BIGINT) AS chunk_len,
         |  md5(substring(text, CAST(pos AS INT), $chunkLen)) AS chunk_hash
         |FROM documents, unnest(generate_series(1, greatest(length(text), 1), $chunkStep)) AS t(pos)
         |ORDER BY doc_id, chunk_pos""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("pos", explode(expr(s"sequence(1, greatest(length(text), 1), $chunkStep)")))
        .select(col("doc_id"),
          expr(s"cast((pos - 1) div $chunkStep as bigint)").as("chunk_idx"),
          col("pos").cast("long").as("chunk_pos"),
          expr(s"cast(length(substring(text, pos, $chunkLen)) as bigint)").as("chunk_len"),
          expr(s"md5(substring(text, pos, $chunkLen))").as("chunk_hash"))
        .orderBy("doc_id", "chunk_pos")
    },

    // Quality filtering: the C4/Gopher-style keep/drop gate assembled from
    // the tx_stats features, with the first failing rule as the drop
    // reason. Rules compare RAW (unrounded) ratios — integer-count
    // divisions are bit-identical across engines; rounding is applied only
    // to the reported columns.
    Q("tx_quality_filter", {
      val rulesSql = rulesSqlDuck
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1) AS uniq_r,
         |    len(list_filter(toks, x -> list_contains([$stopEn], x))) * 1.0 / greatest(len(toks), 1) AS stop_r,
         |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / greatest(len(toks), 1) AS avg_len
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, round(uniq_r, 4) AS uniq_ratio,
         |  round(stop_r, 4) AS stop_ratio, round(avg_len, 4) AS avg_token_len,
         |  CAST(CASE WHEN ($rulesSql) = 'ok' THEN 1 ELSE 0 END AS INT) AS keep,
         |  ($rulesSql) AS reason
         |FROM f ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val rules = rulesSqlSpark
      Tables.documents(s, d)
        .select(col("doc_id"), expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
        .select(col("doc_id"),
          expr("cast(size(toks) as bigint)").as("n_tokens"),
          expr("size(array_distinct(toks)) * 1.0D / greatest(size(toks), 1)").as("uniq_r"),
          expr(s"size(filter(toks, x -> array_contains(array($stopEn), x))) * 1.0D / greatest(size(toks), 1)").as("stop_r"),
          expr("cast(length(array_join(toks, '')) as double) / greatest(size(toks), 1)").as("avg_len"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("uniq_r"), 4).as("uniq_ratio"),
          round(col("stop_r"), 4).as("stop_ratio"),
          round(col("avg_len"), 4).as("avg_token_len"),
          expr(s"CAST(CASE WHEN ($rules) = 'ok' THEN 1 ELSE 0 END AS INT)").as("keep"),
          expr(rules).as("reason"))
        .orderBy("doc_id")
    },

    // Vocabulary building (the BPE-training precursor): corpus-wide token
    // frequencies, top 50 — one explode + one count shuffle (map-side
    // combined), ranking windowed over the (tiny) aggregate. At 100 TB the
    // aggregate is |vocab|-sized regardless of corpus size.
    Q("tx_vocab",
      s"""WITH tok AS (
         |  SELECT unnest(regexp_extract_all(lower(text), '$tokRegex')) AS token
         |  FROM documents
         |),
         |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token)
         |SELECT token, freq FROM freq
         |QUALIFY row_number() OVER (ORDER BY freq DESC, token) <= 50
         |ORDER BY freq DESC, token""".stripMargin) { (s, d) =>
      val freq = Tables.documents(s, d)
        .select(explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      // ranking window over the aggregated vocab (constant partition key:
      // intentionally one task over |vocab| rows, not a full-data window)
      val w = Window.partitionBy(lit(0)).orderBy(col("freq").desc, col("token"))
      freq.withColumn("rn", row_number().over(w)).filter(col("rn") <= 50)
        .select("token", "freq")
        .orderBy(col("freq").desc, col("token"))
    },

    // Rare-bigram ratio — the CCNet-style LM-perplexity filter re-expressed
    // integer-exact: a corpus-trained char-bigram model scores each doc by
    // the fraction of its bigrams that are corpus-rare (gibberish and
    // mojibake score high; natural text low). Deliberately NOT a ln()
    // perplexity sum: summing ~1k ln() terms accumulates engine-specific
    // 1-ulp error AND depends on summation order, which a hash-compared
    // oracle can't tolerate — counts are exact integers, and the single
    // final division is one deterministic FP op. Scale shape: bigram model
    // is |alphabet²|-sized (AQE-broadcast into the scoring join); the
    // per-doc count map-side-combines to |docs| rows before its shuffle.
    Q("tx_rare_bigram", {
      // bigram IDENTITY is the rolling-hash polynomial value, not the
      // 2-char string: over ASCII text h = c0·257 + c1 < P is INJECTIVE, so
      // counts are identical and both engines agree bit-for-bit — while the
      // Spark side gets to fold the whole histogram row-locally (hash_hist)
      // instead of exploding a row per char position
      import graft.functions.RollingHash.{B => RB, P => RP}
      s"""WITH bg AS (
         |  SELECT doc_id,
         |    ((CAST(ord(substring(lower(text), CAST(i AS INT), 1)) AS BIGINT) * $RB) % $RP
         |     + CAST(ord(substring(lower(text), CAST(i + 1 AS INT), 1)) AS BIGINT)) % $RP AS bigram
         |  FROM documents, unnest(generate_series(1, length(text) - 1)) AS t(i)
         |  WHERE length(text) >= 2
         |),
         |dc AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY doc_id, bigram),
         |model AS (SELECT bigram, CAST(sum(c) AS BIGINT) AS cnt FROM dc GROUP BY bigram),
         |scored AS (
         |  SELECT dc.doc_id,
         |    CAST(sum(dc.c) AS BIGINT) AS n_bigrams,
         |    CAST(sum(CASE WHEN model.cnt < $rareBigramCnt THEN dc.c ELSE 0 END) AS BIGINT) AS n_rare
         |  FROM dc JOIN model USING (bigram) GROUP BY dc.doc_id
         |)
         |SELECT doc_id, n_bigrams, n_rare,
         |  round(n_rare * 1.0 / n_bigrams, 4) AS rare_ratio
         |FROM scored ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      // the per-doc histogram folds ROW-LOCALLY (hash_hist over the O(n)
      // rolling-hash pass) — char-grain rows never exist; the query starts
      // at |docs × distinct-bigrams-per-doc| rows, the model aggregates
      // FROM those counts, and the scoring join runs at the aggregated
      // level with the alphabet²-sized model AQE-broadcast
      val dc = Tables.documents(s, d)
        .filter(length(col("text")) >= 2)
        .select(col("doc_id"),
          explode(expr("hash_hist(rolling_hash(lower(text), 2))")).as(Seq("bigram", "c")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val model = dc.groupBy("bigram").agg(sum("c").as("cnt"))
      dc.join(model, Seq("bigram"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"),
          sum(when(col("cnt") < rareBigramCnt, col("c")).otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
          expr("round(n_rare * 1.0D / n_bigrams, 4)").as("rare_ratio"))
        .orderBy("doc_id")
    },

    // TF-IDF top terms per document — the classic relevance/keyword
    // extraction signal. Scale shape: one (doc_id, token) count shuffle
    // with map-side combine; the doc-frequency table aggregates FROM tf
    // (|docs×uniq-tokens| rows, never raw grams) and is |vocab|-sized, so
    // AQE broadcasts it into the scoring join at runtime; the corpus size
    // joins in as a 1-row aggregate; ranking is a per-doc window. Both
    // engines rank on the ROUNDED score (ties broken by token) so a 1-ulp
    // ln() difference can't reorder the emitted top-k.
    Q("tx_tfidf",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$tokRegex')) AS token
         |  FROM documents
         |),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, token),
         |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         |    round(tf.tf * ln((1.0 + n.n_docs) / (1.0 + dfreq.df)), 4) AS tfidf
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN n
         |)
         |SELECT doc_id, token, tf, df, tfidf FROM scored
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) <= 5
         |ORDER BY doc_id, tfidf DESC, token""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"),
          explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("token")).crossJoin(nDocs)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          expr("round(tf * ln((1.0D + n_docs) / (1.0D + df)), 4)").as("tfidf"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("doc_id", "token", "tf", "df", "tfidf")
        .orderBy(col("doc_id"), col("tfidf").desc, col("token"))
    },

    // Rolling-hash fingerprinting: the same winnowing flow as
    // tx_fingerprint but over Rabin-Karp window hashes — ONE O(n) pass per
    // doc via the codegen'd rolling_hash Expression (each window reuses
    // the previous hash) instead of re-hashing k chars per position. The
    // oracle computes the congruent direct polynomial sum; both land on
    // the same canonical value mod P.
    Q("tx_rolling_fp",
      s"""WITH $rollingFpCtes
         |SELECT doc_id, fp FROM fps
         |ORDER BY doc_id, fp""".stripMargin) { (s, d) =>
      // winnow folds the sliding-window minima + per-doc distinct on the
      // row (monotonic deque, O(grams)); the query is a pure projection —
      // the former explode + per-doc window + distinct shape moved every
      // (doc, pos, hash) row through a sort to compute this
      Tables.documents(s, d)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          explode(expr(s"winnow(rolling_hash(text, 8), $winLen)")).as("fp"))
        .orderBy("doc_id", "fp")
    },

    // Cross-document repeated-span detection (the ExactSubstr-family
    // signal, Lee et al. 2022 at span granularity): a winnowed fingerprint
    // appearing in ≥2 documents marks shared boilerplate (headers, license
    // text, templated spam) that document-level dedup can't see. Per doc:
    // fingerprint count, how many are corpus-shared, and the shared
    // fraction — the "boilerplate coverage" drop signal. Scale shape:
    // fingerprints are a row-local winnow projection (zero shuffle to
    // build); ONE map-side-combined (fp) count shuffle sizes each span's
    // document frequency; the score join rides the same fp partitioning
    // and the per-doc rollup is fingerprint-grain, never char-grain.
    Q("dd_spans",
      s"""WITH $rollingFpCtes,
         |sh AS (SELECT fp, CAST(count(*) AS BIGINT) AS docs FROM fps GROUP BY fp)
         |SELECT f.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_fp,
         |  CAST(sum(CASE WHEN sh.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  CAST(sum(CASE WHEN sh.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / count(*) AS shared_frac
         |FROM fps f JOIN sh ON sh.fp = f.fp
         |GROUP BY f.doc_id
         |ORDER BY f.doc_id""".stripMargin) { (s, d) =>
      val fps = Tables.documents(s, d)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          explode(expr(s"winnow(rolling_hash(text, 8), $winLen)")).as("fp"))
        .persist(StorageLevel.MEMORY_AND_DISK) // two consumers: df count + score join
      val sh = fps.groupBy("fp").agg(count(lit(1)).as("docs"))
      fps.join(sh, "fp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"),
          sum(when(col("docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
        // UNROUNDED int/int quotient (the rounding-tie pitfall)
        .select(col("doc_id"), col("n_fp"), col("n_shared"),
          expr("n_shared * 1.0D / n_fp").as("shared_frac"))
        .orderBy("doc_id")
    },

    // Doc-in-doc CONTAINMENT detection — the asymmetric near-dup class
    // symmetric Jaccard misses: a short doc quoted wholesale inside a
    // longer aggregator page has low Jaccard (the union is big) but high
    // containment |fp(A) ∩ fp(B)| / |fp(A)|. Emits directed pairs where
    // ≥ 4/5 of the contained doc's winnowed fingerprints appear in the
    // container (mutual pairs = near-dups, one-way pairs = quotes /
    // scraped inclusions). The threshold is the INTEGER cross-product
    // 5·shared ≥ 4·n_fp — a quotient-vs-0.8 compare would sit on exact
    // ties (4/5 grams shared is common). Fingerprints appearing in more
    // than [[containCap]] docs are dropped from pairing on BOTH sides
    // (corpus-wide boilerplate spans are not evidence of A-inside-B, and
    // their buckets would go quadratic — the dd_minhash_lsh cap stance);
    // the denominator stays the doc's TRUE fingerprint count.
    //
    // Scale shape: fingerprints are the row-local winnow projection
    // (shared with dd_spans, zero shuffle to build); the pair generator is
    // a self-join on the fp hash with every bucket capped at O(cap²); the
    // per-pair count is map-side combined and the size join is doc-sized.
    Q("dd_contain",
      s"""WITH $rollingFpCtes,
         |okf AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $containCap),
         |f AS (SELECT fps.* FROM fps JOIN okf USING (fp)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fps GROUP BY doc_id),
         |pr AS (
         |  SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM f a JOIN f b ON b.fp = a.fp AND b.doc_id <> a.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT pr.contained_doc, pr.container_doc, pr.n_shared,
         |  sz.n_fp AS n_fp_contained,
         |  pr.n_shared * 1.0 / sz.n_fp AS containment
         |FROM pr JOIN sz ON sz.doc_id = pr.contained_doc
         |WHERE pr.n_shared >= 2 AND 5 * pr.n_shared >= 4 * sz.n_fp
         |ORDER BY contained_doc, container_doc""".stripMargin) { (s, d) =>
      val fps = Tables.documents(s, d)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          explode(expr(s"winnow(rolling_hash(text, 8), $winLen)")).as("fp"))
        .persist(StorageLevel.MEMORY_AND_DISK) // cap agg + both join sides + sizes
      val okf = fps.groupBy("fp").agg(count(lit(1)).as("dfc"))
        .filter(col("dfc") <= containCap).select("fp")
      val f = fps.join(okf, Seq("fp"), "left_semi")
      val sz = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      f.select(col("fp"), col("doc_id").as("contained_doc"))
        .join(f.select(col("fp"), col("doc_id").as("container_doc")), "fp")
        .filter(col("contained_doc") =!= col("container_doc"))
        .groupBy("contained_doc", "container_doc")
        .agg(count(lit(1)).as("n_shared"))
        .join(sz.select(col("doc_id").as("contained_doc"), col("n_fp")), "contained_doc")
        .filter(col("n_shared") >= 2 && lit(5) * col("n_shared") >= lit(4) * col("n_fp"))
        .select(col("contained_doc"), col("container_doc"), col("n_shared"),
          col("n_fp").as("n_fp_contained"),
          expr("n_shared * 1.0D / n_fp").as("containment"))
        .orderBy("contained_doc", "container_doc")
    },

    // Benchmark decontamination — the gate every training corpus runs
    // before a model ships: flag documents sharing any verbatim token
    // n-gram with a held-out eval set (here a deterministic doc_id slice
    // standing in for the benchmark suite). Scale shape: grams move as
    // 60-bit hashes, never strings; the corpus side is ONE doc_id
    // repartition serving the per-doc distinct and the total count (the
    // dd_jaccard pattern); the eval side is distinct-gram-aggregated and
    // BENCHMARK-sized — bounded by construction (eval suites don't grow
    // with the corpus), so AQE broadcasts it into the semi join.
    Q("tx_decontam", {
      val gramDuck = duckH(s"array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + ${decontamGram - 1} AS INT)), ' ')")
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |cg AS (
         |  SELECT DISTINCT doc_id, $gramDuck AS gh
         |  FROM tk, unnest(generate_series(1, len(toks) - ${decontamGram - 1})) AS t(i)
         |  WHERE len(toks) >= $decontamGram AND doc_id % $evalMod <> 0
         |),
         |eg AS (
         |  SELECT DISTINCT $gramDuck AS gh
         |  FROM tk, unnest(generate_series(1, len(toks) - ${decontamGram - 1})) AS t(i)
         |  WHERE len(toks) >= $decontamGram AND doc_id % $evalMod = 0
         |),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM cg GROUP BY doc_id),
         |hits AS (
         |  SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_contam
         |  FROM cg JOIN eg USING (gh) GROUP BY cg.doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(t.n_grams, 0) AS n_grams,
         |  coalesce(h.n_contam, 0) AS n_contam,
         |  round(coalesce(h.n_contam, 0) * 1.0 / greatest(coalesce(t.n_grams, 0), 1), 4) AS contam_ratio
         |FROM documents d
         |LEFT JOIN tot t ON t.doc_id = d.doc_id
         |LEFT JOIN hits h ON h.doc_id = d.doc_id
         |WHERE d.doc_id % $evalMod <> 0
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
      // explode positions then hash in a codegen'd projection (array-lambda
      // md5 runs interpreted — the DedupQueries-measured 3x); the per-doc
      // distinct and the total count share one doc_id repartition
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .filter(size(col("toks")) >= decontamGram)
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(1, size(toks) - ${decontamGram - 1})")).as("i"))
        .select(col("doc_id"),
          expr(sparkH(s"array_join(slice(toks, i, $decontamGram), ' ')")).as("gh"))
      val cg = grams(tk.filter(col("doc_id") % evalMod =!= 0))
        .repartition(col("doc_id"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // eval side: benchmark-sized by construction — distinct grams only
      val eg = grams(tk.filter(col("doc_id") % evalMod === 0)).select("gh").distinct()
      val tot = cg.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val hits = cg.join(eg, Seq("gh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contam"))
      Tables.documents(s, d)
        .filter(col("doc_id") % evalMod =!= 0)
        .select("doc_id")
        .join(tot, Seq("doc_id"), "left")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_contam"), lit(0L)).as("n_contam"),
          expr("round(coalesce(n_contam, 0L) * 1.0D / greatest(coalesce(n_grams, 0L), 1), 4)").as("contam_ratio"))
        .orderBy("doc_id")
    },

    // Per-eval-doc leakage score — tx_decontam's MIRROR report: where
    // decontam scores each TRAIN doc's contaminated-gram fraction (what to
    // drop from training), this scores each EVAL doc's fraction of grams
    // present anywhere in the train split (how compromised each benchmark
    // item already is — the report an eval-integrity pass reads to PRUNE
    // or re-weight eval items, since a leaked eval doc can't be fixed by
    // cleaning the corpus after the fact). Same gram unit, same hashed
    // 4-gram machinery. Ratio is an UNROUNDED exact-integer quotient.
    // Scale shape (the tx_decontam stance, queries join in FIRST): the
    // benchmark gram set prunes the train scan by broadcast semi-join
    // BEFORE any distinct, so the corpus-sized stage is ONE scan with a
    // row-local probe — the full train gram set is never shuffled; the
    // surviving hit-gram set is bounded by the benchmark and everything
    // after is benchmark-sized.
    Q("tx_eval_leakage", {
      val gramDuck = duckH(s"array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + ${decontamGram - 1} AS INT)), ' ')")
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |eg AS (
         |  SELECT DISTINCT doc_id, $gramDuck AS gh
         |  FROM tk, unnest(generate_series(1, len(toks) - ${decontamGram - 1})) AS t(i)
         |  WHERE len(toks) >= $decontamGram AND doc_id % $evalMod = 0
         |),
         |tg AS (
         |  SELECT DISTINCT $gramDuck AS gh
         |  FROM tk, unnest(generate_series(1, len(toks) - ${decontamGram - 1})) AS t(i)
         |  WHERE len(toks) >= $decontamGram AND doc_id % $evalMod <> 0
         |),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM eg GROUP BY doc_id),
         |hits AS (
         |  SELECT eg.doc_id, CAST(count(*) AS BIGINT) AS n_leaked
         |  FROM eg JOIN tg USING (gh) GROUP BY eg.doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(t.n_grams, 0) AS n_grams,
         |  coalesce(h.n_leaked, 0) AS n_leaked,
         |  CAST(coalesce(h.n_leaked, 0) AS DOUBLE) / greatest(coalesce(t.n_grams, 0), 1) AS leak_ratio
         |FROM documents d
         |LEFT JOIN tot t ON t.doc_id = d.doc_id
         |LEFT JOIN hits h ON h.doc_id = d.doc_id
         |WHERE d.doc_id % $evalMod = 0
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .filter(size(col("toks")) >= decontamGram)
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(1, size(toks) - ${decontamGram - 1})")).as("i"))
        .select(col("doc_id"),
          expr(sparkH(s"array_join(slice(toks, i, $decontamGram), ' ')")).as("gh"))
      val eg = grams(tk.filter(col("doc_id") % evalMod === 0))
        .repartition(col("doc_id"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // train scan pruned by the benchmark gram set FIRST (broadcast
      // semi-join — row-local probe, no corpus-sized shuffle); the
      // distinct runs on the bounded survivor set only
      val hitGh = grams(tk.filter(col("doc_id") % evalMod =!= 0))
        .join(eg.select("gh").distinct(), Seq("gh"), "left_semi")
        .select("gh").distinct()
      val tot = eg.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val hits = eg.join(hitGh, Seq("gh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_leaked"))
      Tables.documents(s, d)
        .filter(col("doc_id") % evalMod === 0)
        .select("doc_id")
        .join(tot, Seq("doc_id"), "left")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
          expr("cast(coalesce(n_leaked, 0L) as double) / greatest(coalesce(n_grams, 0L), 1)").as("leak_ratio"))
        .orderBy("doc_id")
    },

    // Bloom-prefiltered decontamination — the 100 TB shape of tx_decontam's
    // membership test: the benchmark gram set compresses into a ~1.4 MB
    // bloom filter (vs broadcasting/shuffling the gram table itself), the
    // corpus scan probes it IN PLACE (bloom_might_contain rides the scan
    // projection — zero shuffle for the 99% of grams that miss), and only
    // bloom survivors reach the exact semi-join that removes false
    // positives. False negatives are impossible, so the final result is
    // EXACT — the oracle runs the plain exact semi-join. The bloom build is
    // one driver-side aggregate BOUNDED by the benchmark suite (eval sets
    // don't grow with the corpus) — the same contract as any broadcast dim.
    Q("tx_decontam_bloom", {
      val gramDuck = duckH(s"array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + ${decontamGram - 1} AS INT)), ' ')")
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |cg AS (
         |  SELECT DISTINCT doc_id, $gramDuck AS gh
         |  FROM tk, unnest(generate_series(1, len(toks) - ${decontamGram - 1})) AS t(i)
         |  WHERE len(toks) >= $decontamGram AND doc_id % $evalMod <> 0
         |),
         |eg AS (
         |  SELECT DISTINCT $gramDuck AS gh
         |  FROM tk, unnest(generate_series(1, len(toks) - ${decontamGram - 1})) AS t(i)
         |  WHERE len(toks) >= $decontamGram AND doc_id % $evalMod = 0
         |)
         |SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_contam
         |FROM cg JOIN eg USING (gh)
         |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin
    }) { (s, d) =>
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .filter(size(col("toks")) >= decontamGram)
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(1, size(toks) - ${decontamGram - 1})")).as("i"))
        .select(col("doc_id"),
          expr(sparkH(s"array_join(slice(toks, i, $decontamGram), ' ')")).as("gh"))
      val eg = grams(tk.filter(col("doc_id") % evalMod === 0)).select("gh").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // benchmark-sized build: fixed 1% fpp bloom over the eval grams
      val bloom = eg.stat.bloomFilter("gh", bloomExpected, 0.01)
      val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
      // the serialized bloom rides as a BINARY literal — foldable, so
      // BloomFilterMightContain accepts it and the probe rides the corpus
      // scan's projection (no join, no shuffle)
      grams(tk.filter(col("doc_id") % evalMod =!= 0))
        // cheap prefilter, ~99% of grams exit here
        .filter(call_function("bloom_might_contain", lit(bytes), col("gh")))
        .join(eg, Seq("gh"), "left_semi") // exact verify: false positives die
        .distinct() // per-doc DISTINCT gram count, on the tiny survivor set
        .groupBy("doc_id").agg(count(lit(1)).as("n_contam"))
        .orderBy("doc_id")
    },

    // Within-document repetition — the Gopher quality signals that catch
    // degenerate/boilerplate text: the most frequent word-bigram's share of
    // all bigram occurrences, and the fraction of 3-gram occurrences that
    // are repeats. Integer-count exact (no FP accumulation). Scale shape:
    // the per-(doc, gram) count collapses the explode MAP-SIDE, so the
    // shuffle carries |docs × distinct-grams-per-doc| hashed rows, and the
    // per-doc rollup rides a second, |docs|-sized exchange.
    Q("tx_repetition", {
      def gramCtes(n: Int, tag: String) = {
        val gh = duckH(s"array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + ${n - 1} AS INT)), ' ')")
        s"""g$tag AS (
           |  SELECT doc_id, $gh AS gh
           |  FROM tk, unnest(generate_series(1, len(toks) - ${n - 1})) AS t(i)
           |  WHERE len(toks) >= $n
           |),
           |c$tag AS (SELECT doc_id, gh, CAST(count(*) AS BIGINT) AS c FROM g$tag GROUP BY doc_id, gh)""".stripMargin
      }
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |${gramCtes(2, "2")},
         |r2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2, CAST(max(c) AS BIGINT) AS top2 FROM c2 GROUP BY doc_id),
         |${gramCtes(3, "3")},
         |r3 AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
         |  FROM c3 GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(r2.n2, 0) AS n_2grams, coalesce(r2.top2, 0) AS top_2gram_cnt,
         |  round(coalesce(r2.top2, 0) * 1.0 / greatest(coalesce(r2.n2, 0), 1), 4) AS top_2gram_frac,
         |  coalesce(r3.n3, 0) AS n_3grams, coalesce(r3.dup3, 0) AS dup_3gram_cnt,
         |  round(coalesce(r3.dup3, 0) * 1.0 / greatest(coalesce(r3.n3, 0), 1), 4) AS dup_3gram_frac
         |FROM documents d
         |LEFT JOIN r2 ON r2.doc_id = d.doc_id
         |LEFT JOIN r3 ON r3.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      def rollup(n: Int) = tk
        .filter(size(col("toks")) >= n)
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(1, size(toks) - ${n - 1})")).as("i"))
        .select(col("doc_id"), expr(sparkH(s"array_join(slice(toks, i, $n), ' ')")).as("gh"))
        .groupBy("doc_id", "gh").agg(count(lit(1)).as("c"))
      val r2 = rollup(2).groupBy("doc_id")
        .agg(sum("c").as("n2"), max("c").as("top2"))
      val r3 = rollup(3).groupBy("doc_id")
        .agg(sum("c").as("n3"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup3"))
      Tables.documents(s, d).select("doc_id")
        .join(r2, Seq("doc_id"), "left")
        .join(r3, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n2"), lit(0L)).as("n_2grams"),
          coalesce(col("top2"), lit(0L)).as("top_2gram_cnt"),
          expr("round(coalesce(top2, 0L) * 1.0D / greatest(coalesce(n2, 0L), 1), 4)").as("top_2gram_frac"),
          coalesce(col("n3"), lit(0L)).as("n_3grams"),
          coalesce(col("dup3"), lit(0L)).as("dup_3gram_cnt"),
          expr("round(coalesce(dup3, 0L) * 1.0D / greatest(coalesce(n3, 0L), 1), 4)").as("dup_3gram_frac"))
        .orderBy("doc_id")
    },

    // Deterministic stratified sampling — mixture weighting: each language
    // keeps a different fraction, decided by a content-independent hash of
    // the doc_id so the sample is reproducible across runs/engines and
    // survives repartitioning. Row-local (zero shuffle but the
    // canonicalizing ORDER BY); at 100 TB this is a free rider on any scan.
    Q("tx_sample", {
      val u = s"${duckH(s"'smpl:' || CAST(doc_id AS VARCHAR)")} % 1000"
      s"""SELECT doc_id, lang, CAST($u AS BIGINT) AS sample_key
         |FROM documents
         |WHERE $u < CASE lang WHEN 'en' THEN 200 WHEN 'zh' THEN 600 ELSE 400 END
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val u = s"${sparkH("concat('smpl:', cast(doc_id as string))")} % 1000"
      Tables.documents(s, d)
        .withColumn("sample_key", expr(u))
        .filter(expr(s"sample_key < CASE lang WHEN 'en' THEN 200 WHEN 'zh' THEN 600 ELSE 400 END"))
        .select(col("doc_id"), col("lang"), col("sample_key"))
        .orderBy("doc_id")
    },

    // Sequence packing — the tokenizer-feeding step: assign documents to
    // fixed-token-budget training sequences via a running token count.
    // Scale shape: packing is per (lang, shard) — the shard key fans one
    // language's stream across $packShards independent packers, so the
    // running-sum window never sees a whole language in one partition
    // (a single per-lang window is a parallelism-1 wall at 100 TB).
    Q("tx_pack",
      s"""WITH tk AS (
         |  SELECT doc_id, lang, doc_id % $packShards AS shard,
         |    CAST(len(regexp_extract_all(lower(text), '$tokRegex')) AS BIGINT) AS n_tokens
         |  FROM documents
         |),
         |c AS (
         |  SELECT doc_id, lang, shard, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
         |  FROM tk
         |)
         |SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard, n_tokens,
         |  CAST(start_off AS BIGINT) AS start_off,
         |  CAST(start_off // $packBudget AS BIGINT) AS seq_bin
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          (col("doc_id") % packShards).as("shard"),
          expr(s"cast(size(regexp_extract_all(lower(text), '$tokRegex', 0)) as bigint)").as("n_tokens"))
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tk.withColumn("start_off", sum("n_tokens").over(w) - col("n_tokens"))
        .select(col("doc_id"), col("lang"), col("shard").cast("long").as("shard"),
          col("n_tokens"), col("start_off").cast("long").as("start_off"),
          expr(s"cast(start_off div $packBudget as bigint)").as("seq_bin"))
        .orderBy("doc_id")
    },

    // Packing-efficiency report — the context-length decision metric: for
    // each candidate sequence length, the token utilization under
    // DOC-BOUNDARY-PRESERVING packing (no sequence crosses a document; a
    // doc of t tokens occupies ceil(t/L) sequences, padding only in its
    // last one — the conservative packing regime; tx_pack is the
    // boundary-agnostic contiguous twin whose waste is ~0 by
    // construction). All integer arithmetic: ceil as (t + L - 1) div L,
    // never a float ceil; utilization is the UNROUNDED exact quotient.
    // Scale shape: one tokenize pass cross-joined with a 4-literal-row
    // length table, one map-side-combined aggregate per length.
    Q("tx_pack_report",
      s"""WITH tk AS (
         |  SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '$tokRegex')) AS BIGINT) AS t
         |  FROM documents
         |),
         |ls AS (SELECT CAST(u.l AS BIGINT) AS seq_len FROM unnest([256, 512, 1024, 2048]) AS u(l)),
         |per AS (
         |  SELECT ls.seq_len, tk.t, (tk.t + ls.seq_len - 1) // ls.seq_len AS n_seq
         |  FROM tk, ls
         |)
         |SELECT seq_len, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(t) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_seq) AS BIGINT) AS n_seqs,
         |  CAST(sum(n_seq) * seq_len AS BIGINT) AS padded_tokens,
         |  CAST(sum(t) AS DOUBLE) / greatest(CAST(sum(n_seq) * seq_len AS BIGINT), 1) AS utilization
         |FROM per GROUP BY seq_len ORDER BY seq_len""".stripMargin) { (s, d) =>
      val tk = Tables.documents(s, d)
        .select(col("doc_id"),
          expr(s"cast(size(regexp_extract_all(lower(text), '$tokRegex', 0)) as bigint)").as("t"))
      val ls = { import s.implicits._; Seq(256L, 512L, 1024L, 2048L).toDF("seq_len") }
      tk.crossJoin(broadcast(ls)) // 4-literal-row LOCAL table (audit-recognized constant)
        .withColumn("n_seq", expr("(t + seq_len - 1) div seq_len"))
        .groupBy("seq_len")
        .agg(count(lit(1)).as("n_docs"), sum("t").as("total_tokens"),
          sum("n_seq").as("n_seqs"))
        .select(col("seq_len"), col("n_docs"), col("total_tokens"), col("n_seqs"),
          (col("n_seqs") * col("seq_len")).as("padded_tokens"),
          expr("cast(total_tokens as double) / greatest(n_seqs * seq_len, 1)").as("utilization"))
        .orderBy("seq_len")
    },

    // PII scrubbing — the redaction pass every web corpus runs before
    // training: regex-detect emails / phone numbers / IPv4 addresses,
    // replace with typed placeholder tokens, count what was redacted.
    // The synthetic corpus contains no PII (lowercase word salad), so the
    // query INJECTS deterministic doc_id-derived PII first — the injection
    // is test-data generation, mirrored exactly in the oracle; the
    // OPERATOR (the regex chain) is the real product. Patterns use
    // bracket classes only (no backslash escapes, no word boundaries) so
    // Java regex and DuckDB's RE2 match identically. Row-local — zero
    // shuffle beyond the canonicalizing ORDER BY; a free rider on any
    // scan at 100 TB.
    Q("tx_pii", {
      val raw = piiInjectSql(e => s"CAST($e AS VARCHAR)")
      s"""WITH raw AS (SELECT doc_id, $raw AS raw FROM documents),
         |s AS (
         |  SELECT doc_id, raw,
         |    regexp_replace(regexp_replace(regexp_replace(raw,
         |      '$piiEmail', '<EMAIL>', 'g'),
         |      '$piiPhone', '<PHONE>', 'g'),
         |      '$piiIp', '<IP>', 'g') AS clean
         |  FROM raw
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw, '$piiEmail')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(raw, '$piiPhone')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(raw, '$piiIp')) AS BIGINT) AS n_ip,
         |  CAST(length(raw) - length(clean) AS BIGINT) AS chars_redacted,
         |  md5(clean) AS clean_hash
         |FROM s ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val raw = piiInjectSql(e => s"CAST($e AS STRING)")
      Tables.documents(s, d)
        .select(col("doc_id"), expr(raw).as("raw"))
        .withColumn("clean", expr(scrubSparkSql))
        .select(col("doc_id"),
          expr(s"cast(size(regexp_extract_all(raw, '$piiEmail', 0)) as bigint)").as("n_email"),
          expr(s"cast(size(regexp_extract_all(raw, '$piiPhone', 0)) as bigint)").as("n_phone"),
          expr(s"cast(size(regexp_extract_all(raw, '$piiIp', 0)) as bigint)").as("n_ip"),
          expr("cast(length(raw) - length(clean) as bigint)").as("chars_redacted"),
          md5(col("clean")).as("clean_hash"))
        .orderBy("doc_id")
    },

    // Character-entropy quality signal — low entropy flags degenerate
    // repetition ("aaaa…"), high entropy flags mojibake/binary spill; the
    // cheap first-pass gibberish filter. Cross-engine determinism: counts
    // are exact integers; the per-doc histogram is SORTED by character and
    // folded left-to-right in BOTH engines (Spark `aggregate` over
    // sort_array, DuckDB list_sum over list(ORDER BY ch)), so the float
    // sum sees the same addends in the same order; output rounded to 4dp.
    // Scale shape: the char explode collapses map-side to
    // |docs × alphabet| rows before its only shuffle.
    // Char identity is the CODE POINT (ord / rolling_hash k=1 — identical
    // over ASCII and deterministic in both engines), so the per-doc
    // histogram folds ROW-LOCALLY via hash_hist with entries pre-sorted by
    // code: the whole query is a projection (ZERO shuffles before the
    // output sort; previously one per-char explode + two shuffles). The
    // entropy fold still sees identical addends in identical (code) order
    // in both engines, so the float sum stays bit-stable.
    Q("tx_entropy",
      s"""WITH cs AS (
         |  SELECT doc_id, ord(substring(text, CAST(i AS INT), 1)) AS ch
         |  FROM documents, unnest(generate_series(1, length(text))) AS t(i)
         |  WHERE length(text) >= 1
         |),
         |cnt AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM cs GROUP BY doc_id, ch),
         |h AS (
         |  SELECT doc_id, list(c ORDER BY ch) AS hist, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_distinct
         |  FROM cnt GROUP BY doc_id
         |)
         |SELECT doc_id, n AS n_chars, n_distinct,
         |  round(list_sum(list_transform(hist, c -> -(c * 1.0 / n) * log2(c * 1.0 / n))), 4) AS entropy
         |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"),
          expr("map_values(hash_hist(rolling_hash(text, 1)))").as("hist"),
          length(col("text")).cast("long").as("n_chars"))
        .select(col("doc_id"), col("n_chars"),
          size(col("hist")).cast("long").as("n_distinct"),
          expr("round(aggregate(hist, 0.0D, (acc, c) -> acc - (c * 1.0D / n_chars) * log2(c * 1.0D / n_chars)), 4)").as("entropy"))
        .orderBy("doc_id")
    },

    // Per-source document cap — C4-style domain balancing: keep at most
    // `srcCap` docs per source, chosen by a content-independent doc hash so
    // the sample is reproducible across runs/engines/partitionings. Scale
    // shape: a naive per-source ranking window funnels a mega-domain into
    // ONE task; this runs two-level top-k instead — rank within
    // (source, salt) first (bounds any task at ~|source|/nSalts), then rank
    // the ≤ nSalts×cap survivors per source. Identical result: any row in
    // a source's global top-cap is necessarily in its salt's top-cap, so
    // level 1 never discards a final keeper (the oracle runs the direct
    // single-window form).
    Q("tx_source_cap", {
      val h = duckH("'cap:' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, source,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS BIGINT) AS cap_rank
         |FROM documents
         |QUALIFY cap_rank <= $srcCap
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      sourceCapDF(Tables.documents(s, d)).orderBy("doc_id")
    },

    // N-gram language ID (textcat, Cavnar–Trenkle style) — the second
    // lang-id method beside the stopword scorer (tx_langid): per-language
    // char-trigram profiles are TRAINED from the labeled corpus (top 40
    // trigrams per declared lang by occurrence count), and each doc is
    // scored by how many of its trigram occurrences hit each profile;
    // deterministic argmax. Scale shape: profile building is one
    // (lang, trigram) map-side-combined count + a ranking window over the
    // |langs|×|profile| aggregate; scoring joins the doc trigram counts
    // against the broadcast-sized profile table and rolls up per doc.
    Q("tx_langid_ngram", {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val scoreCols = langs.map(l =>
        s"CAST(coalesce(sum(CASE WHEN p.lang = '$l' THEN g.c END), 0) AS BIGINT) AS s_$l").mkString(",\n|  ")
      val argmax = langs.dropRight(1).zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
        s"WHEN $rest THEN '$l'"
      }.mkString(" ")
      // trigram identity = rolling-hash polynomial (injective over ASCII,
      // see tx_rare_bigram) — lets the Spark side fold per-doc histograms
      // row-locally; the profile tiebreak orders by the hash in BOTH
      // engines, so boundary selection stays identical
      import graft.functions.RollingHash.{B => RB, P => RP}
      s"""WITH tg AS (
         |  SELECT doc_id,
         |    ((CAST(ord(substring(lower(text), CAST(i AS INT), 1)) AS BIGINT) * ${RB * RB % RP}) % $RP
         |     + (CAST(ord(substring(lower(text), CAST(i + 1 AS INT), 1)) AS BIGINT) * $RB) % $RP
         |     + CAST(ord(substring(lower(text), CAST(i + 2 AS INT), 1)) AS BIGINT)) % $RP AS tri
         |  FROM documents, unnest(generate_series(1, length(text) - 2)) AS t(i)
         |  WHERE length(text) >= 3
         |),
         |g AS (SELECT doc_id, tri, CAST(count(*) AS BIGINT) AS c FROM tg GROUP BY doc_id, tri),
         |lp AS (
         |  SELECT lang, tri FROM (
         |    SELECT lang, tri, CAST(sum(c) AS BIGINT) AS lc,
         |      row_number() OVER (PARTITION BY lang ORDER BY sum(c) DESC, tri) AS rn
         |    FROM g JOIN (SELECT doc_id, lang FROM documents) d USING (doc_id)
         |    GROUP BY lang, tri
         |  ) WHERE rn <= $triProfile
         |),
         |sc AS (
         |  SELECT g.doc_id,
         |  $scoreCols
         |  FROM g JOIN lp p ON p.tri = g.tri
         |  GROUP BY g.doc_id
         |),
         |base AS (
         |  SELECT d.doc_id, d.lang AS declared_lang,
         |    ${langs.map(l => s"coalesce(s_$l, 0) AS s_$l").mkString(", ")}
         |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |)
         |SELECT doc_id, declared_lang, ${langs.map(l => s"s_$l").mkString(", ")},
         |  CASE $argmax ELSE '${langs.last}' END AS predicted_lang
         |FROM base
         |ORDER BY doc_id""".stripMargin
      // ^ the argmax CASE runs over the coalesced sub-select (`base`), not
      // the raw LEFT JOIN: in DuckDB a same-SELECT alias does NOT shadow
      // the sc table column, so a doc with no profile hits fed NULLs into
      // every comparison and fell through to the ELSE — while Spark
      // coalesces BEFORE the CASE. Coalesce-then-argmax in both engines.
    }) { (s, d) =>
      val langs = Seq("de", "en", "es", "fr", "zh")
      val docs = Tables.documents(s, d)
      val g = docs
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"),
          explode(expr("hash_hist(rolling_hash(lower(text), 3))")).as(Seq("tri", "c")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val w = Window.partitionBy("lang").orderBy(col("lc").desc, col("tri"))
      val lp = g.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "tri").agg(sum("c").as("lc"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= triProfile)
        .select("lang", "tri")
      val aggCols = langs.map(l =>
        coalesce(sum(when(col("plang") === l, col("c"))), lit(0L)).as(s"s_$l"))
      val sc = g.join(lp.withColumnRenamed("lang", "plang"), "tri")
        .groupBy("doc_id")
        .agg(aggCols.head, aggCols.tail: _*)
      val argmax = langs.dropRight(1).zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
        s"WHEN $rest THEN '$l'"
      }.mkString(" ")
      docs.select(col("doc_id"), col("lang").as("declared_lang"))
        .join(sc, Seq("doc_id"), "left")
        .select(col("doc_id") +: col("declared_lang") +:
          langs.map(l => coalesce(col(s"s_$l"), lit(0L)).as(s"s_$l")): _*)
        .withColumn("predicted_lang", expr(s"CASE $argmax ELSE '${langs.last}' END"))
        .orderBy("doc_id")
    },

    // Training-order shuffle — the last materialization step before
    // tokenizer feeding: every doc gets a deterministic global shuffle
    // position (content-independent hash key → shard, rank within shard),
    // reproducible across runs/engines/partitionings. Scale shape: this IS
    // the TeraSort shape — range-partition by key, sort within shards; the
    // per-shard ranking window sorts |corpus|/nShards rows per task, and
    // nShards scales with the corpus (a training run wants ~file-sized
    // shards anyway).
    Q("tx_shuffle", {
      val k = duckH("'shuf:' || CAST(doc_id AS VARCHAR)")
      s"""WITH keyed AS (SELECT doc_id, $k AS k FROM documents)
         |SELECT doc_id, CAST(k % $shufShards AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY k % $shufShards ORDER BY k, doc_id) AS BIGINT) AS pos
         |FROM keyed ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"),
          expr(sparkH("concat('shuf:', cast(doc_id as string))")).as("k"))
        .withColumn("shard", (col("k") % shufShards).cast("long"))
      val w = Window.partitionBy("shard").orderBy(col("k"), col("doc_id"))
      keyed.withColumn("pos", row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    },

    // Source-balanced deterministic interleave — the training-ORDER
    // operator completing tx_shuffle (which randomizes) and tx_mix_apply
    // (which subsamples): assign every doc a stride key so that reading
    // in key order interleaves sources proportionally to their size (no
    // long single-source runs — the data-ordering property sequential
    // ingestion of per-source files destroys). Within a source, docs
    // order by their content-independent hash (reproducible shuffle);
    // the stride key r·total intdiv n_source spaces source ranks evenly
    // across the global range — pure integer math on both engines.
    //
    // Scale shape: the rank window partitions by SOURCE (bounded by the
    // largest source, the tx_source_cap stance); the stride key is a
    // row-local expression against broadcast source sizes + a 1-row
    // total. The GLOBAL position is deliberately not materialized — the
    // key IS the order, and the consumer writes range-partitioned sorted
    // by (stride_key, source, doc_id), which Spark does without a single-
    // partition sort.
    Q("tx_interleave", {
      val k = duckH("'il:' || CAST(doc_id AS VARCHAR)")
      s"""WITH keyed AS (SELECT doc_id, source, $k AS k FROM documents),
         |rk AS (
         |  SELECT doc_id, source, k,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS BIGINT) AS src_rank
         |  FROM keyed
         |),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM keyed GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM keyed)
         |SELECT rk.doc_id, rk.source, rk.src_rank,
         |  (rk.src_rank * tot.n_tot) // sz.n_src AS stride_key
         |FROM rk JOIN sz ON sz.source = rk.source CROSS JOIN tot
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          expr(sparkH("concat('il:', cast(doc_id as string))")).as("k"))
      val rk = keyed.withColumn("src_rank",
        row_number().over(Window.partitionBy("source").orderBy(col("k"), col("doc_id")))
          .cast("long"))
      val sz = keyed.groupBy("source").agg(count(lit(1)).as("n_src"))
      val tot = keyed.agg(count(lit(1)).as("n_tot"))
      rk.join(sz, "source") // source-cardinality table
        .crossJoin(broadcast(tot)) // 1-row total
        .select(col("doc_id"), col("source"), col("src_rank"),
          expr("(src_rank * n_tot) div n_src").as("stride_key"))
        .orderBy("doc_id")
    },

    // Blocklist filter — the C4-style "bad words" gate: flag documents
    // containing blocklisted terms, with per-doc match counts and the
    // first matched term as the drop reason. The list here is corpus
    // vocabulary standing in for a real deny-list; membership is token-
    // exact (array_contains over the tokenized doc), not substring, so
    // "scan" never flags "scandal". Row-local — rides any corpus scan.
    Q("tx_blocklist",
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> list_contains([$blockList], x))) AS BIGINT) AS n_blocked,
         |  CAST(CASE WHEN len(list_filter(toks, x -> list_contains([$blockList], x))) > 0 THEN 0 ELSE 1 END AS INT) AS keep,
         |  coalesce(list_filter(toks, x -> list_contains([$blockList], x))[1], '') AS first_match
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
        .withColumn("hits", expr(s"filter(toks, x -> array_contains(array($blockList), x))"))
        .select(col("doc_id"),
          expr("cast(size(hits) as bigint)").as("n_blocked"),
          expr("cast(CASE WHEN size(hits) > 0 THEN 0 ELSE 1 END as int)").as("keep"),
          // element_at would throw under ANSI on the empty array — guard
          expr("CASE WHEN size(hits) > 0 THEN hits[0] ELSE '' END").as("first_match"))
        .orderBy("doc_id")
    },

    // Token-distribution drift — the train/eval distribution-shift monitor:
    // symmetric KL divergence between two corpus slices' token
    // distributions (add-one smoothed over the union vocab). Determinism:
    // counts are exact integers; the per-token contribution list is SORTED
    // by token and folded left-to-right in both engines (the tx_entropy
    // stance), so the float sum sees identical addends in identical order.
    // Scale shape: one (slice, token) count shuffle with map-side combine;
    // the fold runs over the |vocab|-sized aggregate.
    Q("tx_drift", {
      s"""WITH tok AS (
         |  SELECT doc_id % 2 AS slice, unnest(regexp_extract_all(lower(text), '$tokRegex')) AS token
         |  FROM documents
         |),
         |c AS (SELECT slice, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY slice, token),
         |v AS (
         |  SELECT token,
         |    CAST(coalesce(sum(CASE WHEN slice = 0 THEN c END), 0) + 1 AS BIGINT) AS c0,
         |    CAST(coalesce(sum(CASE WHEN slice = 1 THEN c END), 0) + 1 AS BIGINT) AS c1
         |  FROM c GROUP BY token
         |),
         |tot AS (SELECT CAST(sum(c0) AS BIGINT) AS t0, CAST(sum(c1) AS BIGINT) AS t1, CAST(count(*) AS BIGINT) AS n_vocab FROM v),
         |l AS (
         |  SELECT list((c0 * 1.0 / tot.t0) * ln((c0 * 1.0 / tot.t0) / (c1 * 1.0 / tot.t1)) ORDER BY token) AS kl01,
         |    list((c1 * 1.0 / tot.t1) * ln((c1 * 1.0 / tot.t1) / (c0 * 1.0 / tot.t0)) ORDER BY token) AS kl10,
         |    any_value(tot.n_vocab) AS n_vocab
         |  FROM v, tot
         |)
         |SELECT n_vocab, round(list_sum(kl01), 4) AS kl_train_eval,
         |  round(list_sum(kl10), 4) AS kl_eval_train
         |FROM l""".stripMargin
    }) { (s, d) =>
      val c = Tables.documents(s, d)
        .select((col("doc_id") % 2).as("slice"),
          explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("token"))
        .groupBy("slice", "token").agg(count(lit(1)).as("c"))
      val v = c.groupBy("token").agg(
        (coalesce(sum(when(col("slice") === 0, col("c"))), lit(0L)) + 1).as("c0"),
        (coalesce(sum(when(col("slice") === 1, col("c"))), lit(0L)) + 1).as("c1"))
      val tot = v.agg(sum("c0").as("t0"), sum("c1").as("t1"), count(lit(1)).as("n_vocab"))
      v.crossJoin(tot)
        .groupBy("n_vocab", "t0", "t1")
        .agg(
          expr("sort_array(collect_list(struct(token, c0, c1)))").as("h"))
        .select(col("n_vocab"),
          expr("round(aggregate(h, 0.0D, (acc, p) -> acc + (p.c0 * 1.0D / t0) * ln((p.c0 * 1.0D / t0) / (p.c1 * 1.0D / t1))), 4)").as("kl_train_eval"),
          expr("round(aggregate(h, 0.0D, (acc, p) -> acc + (p.c1 * 1.0D / t1) * ln((p.c1 * 1.0D / t1) / (p.c0 * 1.0D / t0))), 4)").as("kl_eval_train"))
    },

    // Corpus mix report — the dataset-card rollup: per (lang, source) doc
    // and token counts plus corpus share, the composition table every
    // training-data release publishes. One map-side-combined aggregate over
    // a row-local token count; the share join is against a 1-row total.
    Q("tx_mix_report",
      s"""WITH per AS (
         |  SELECT lang, source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(regexp_extract_all(lower(text), '$tokRegex'))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang, source
         |),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per)
         |SELECT lang, source, n_docs, n_tokens,
         |  round(n_tokens * 1.0 / tot.t, 4) AS token_share
         |FROM per, tot ORDER BY lang, source""".stripMargin) { (s, d) =>
      val per = Tables.documents(s, d)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr(s"size(regexp_extract_all(lower(text), '$tokRegex', 0))")).as("n_tokens"))
      val tot = per.agg(sum("n_tokens").as("t"))
      per.crossJoin(tot)
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          expr("round(n_tokens * 1.0D / t, 4)").as("token_share"))
        .orderBy("lang", "source")
    },

    // Mixture PLANNER — the step between the mix report and the sampler:
    // given target language shares (permille literals, the tx_sample
    // stance), compute per-language downsampling rates normalized so the
    // most under-represented language keeps everything (downsample-only —
    // upsampling is a repetition decision made elsewhere). Scale shape:
    // one map-side-combined per-language token count; everything after is
    // language-cardinality-sized (the constant-partition window runs over
    // a result-sized 5-row frame — the documented bounded pattern). Float
    // discipline: ratios are one identical chain of double ops from exact
    // integers (cast-to-double, /1000, /n_tokens), the normalizing max
    // compares exact doubles, and every emitted float is an UNROUNDED
    // deterministic quotient/product (integer ratios land ON rounding
    // ties); expected_tokens truncates the same double product in both
    // engines.
    Q("tx_mix_plan", {
      val tgt = "CASE lang WHEN 'de' THEN 250 WHEN 'en' THEN 350 WHEN 'es' THEN 200 WHEN 'fr' THEN 150 ELSE 50 END"
      s"""WITH tl AS (
         |  SELECT lang, CAST(sum(len(regexp_extract_all(lower(text), '$tokRegex'))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang
         |),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM tl),
         |rt AS (
         |  SELECT lang, n_tokens, total, $tgt AS target,
         |    CAST(($tgt) * total AS DOUBLE) / 1000 / n_tokens AS ratio
         |  FROM tl CROSS JOIN t
         |),
         |nm AS (SELECT *, max(ratio) OVER () AS maxr FROM rt)
         |SELECT lang, n_tokens,
         |  CAST(n_tokens AS DOUBLE) / total AS current_share,
         |  CAST(target AS DOUBLE) / 1000 AS target_share,
         |  ratio / maxr AS rate,
         |  CAST(floor(ratio / maxr * n_tokens) AS BIGINT) AS expected_tokens
         |FROM nm ORDER BY lang""".stripMargin
      // ^ explicit floor: DuckDB's DOUBLE->BIGINT cast ROUNDS to nearest,
      // Spark's truncates — floor() is the same in both
    }) { (s, d) =>
      val tgt = "CASE lang WHEN 'de' THEN 250 WHEN 'en' THEN 350 WHEN 'es' THEN 200 WHEN 'fr' THEN 150 ELSE 50 END"
      val tl = Tables.documents(s, d)
        .groupBy("lang")
        .agg(sum(size(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).cast("long")).as("n_tokens"))
      val t = tl.agg(sum("n_tokens").as("total"))
      val rt = tl.crossJoin(broadcast(t)) // 1-row total
        .withColumn("target", expr(tgt))
        .withColumn("ratio", expr("cast(target * total as double) / 1000 / n_tokens"))
      val nm = rt.withColumn("maxr",
        max("ratio").over(Window.partitionBy(lit(1)))) // result-sized frame
      nm.select(col("lang"), col("n_tokens"),
          expr("cast(n_tokens as double) / total").as("current_share"),
          expr("cast(target as double) / 1000").as("target_share"),
          expr("ratio / maxr").as("rate"),
          expr("cast(floor(ratio / maxr * n_tokens) as bigint)").as("expected_tokens"))
        .orderBy("lang")
    },

    // Temperature-reweighted mixture — the OTHER standard target-share
    // scheme (tx_mix_plan pins shares by hand; this derives them from the
    // data): sampling share ∝ n_tokens^α with α = 1/2, the classic
    // low-resource-language upweighting. α = 1/2 is computed as sqrt —
    // IEEE-754 requires sqrt correctly rounded, so both engines get the
    // SAME double (a general pow(x, α) would not be safe cross-engine).
    // Each sqrt then quantizes to a scaled BIGINT before summing (the
    // exactSum stance: float partial-agg order can never matter), and the
    // shares/boosts are unrounded exact-integer-quotient doubles. boost =
    // temp_share / current_share is the per-language upweighting factor a
    // sampler applies on top of natural frequency. Scale shape: one
    // map-side-combined token count per language; everything after is a
    // language-cardinality frame with a 1-row total broadcast.
    Q("tx_mix_temperature",
      s"""WITH tl AS (
         |  SELECT lang, CAST(sum(len(regexp_extract_all(lower(text), '$tokRegex'))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang
         |),
         |w AS (
         |  SELECT lang, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS wq
         |  FROM tl
         |),
         |t AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total, CAST(sum(wq) AS BIGINT) AS wtot
         |  FROM w
         |)
         |SELECT lang, n_tokens,
         |  CAST(n_tokens AS DOUBLE) / total AS current_share,
         |  CAST(wq AS DOUBLE) / wtot AS temp_share,
         |  (CAST(wq AS DOUBLE) / wtot) / (CAST(n_tokens AS DOUBLE) / total) AS boost
         |FROM w CROSS JOIN t ORDER BY lang""".stripMargin) { (s, d) =>
      val w = Tables.documents(s, d)
        .groupBy("lang")
        .agg(sum(size(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).cast("long")).as("n_tokens"))
        .withColumn("wq",
          expr("cast(floor(sqrt(cast(n_tokens as double)) * 1000000) as bigint)"))
      val t = w.agg(sum("n_tokens").as("total"), sum("wq").as("wtot"))
      w.crossJoin(broadcast(t)) // 1-row totals
        .select(col("lang"), col("n_tokens"),
          expr("cast(n_tokens as double) / total").as("current_share"),
          expr("cast(wq as double) / wtot").as("temp_share"),
          expr("(cast(wq as double) / wtot) / (cast(n_tokens as double) / total)").as("boost"))
        .orderBy("lang")
    },

    // Mixture APPLY — the sampler that EXECUTES the tx_mix_plan rates,
    // completing the report → plan → apply family: each doc keeps iff its
    // content-independent hash key falls under its language's planned rate.
    // The keep test is INTEGER vs INTEGER — `hash % 1e6 < floor(rate·1e6)`
    // — so the double rate (a deterministic quotient chain in both
    // engines) is collapsed through one identical floor before any
    // comparison; a direct `hash/1e6 < rate` float compare would hinge on
    // the quotient's last ulp. The max language's rate is exactly 1.0
    // (its ratio IS maxr), so floor gives the full 1e6 band and that
    // language keeps everything — pinning the planner's downsample-only
    // contract in the output. Scale shape: the plan chain is
    // language-sized and broadcast into the corpus scan; the keep filter
    // is a row-local free rider on it.
    Q("tx_mix_apply", {
      val tgt = "CASE lang WHEN 'de' THEN 250 WHEN 'en' THEN 350 WHEN 'es' THEN 200 WHEN 'fr' THEN 150 ELSE 50 END"
      val u = s"${duckH("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000"
      s"""WITH tl AS (
         |  SELECT lang, CAST(sum(len(regexp_extract_all(lower(text), '$tokRegex'))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang
         |),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM tl),
         |rt AS (
         |  SELECT lang, CAST(($tgt) * total AS DOUBLE) / 1000 / n_tokens AS ratio
         |  FROM tl CROSS JOIN t
         |),
         |nm AS (SELECT lang, CAST(floor(ratio / max(ratio) OVER () * 1000000) AS BIGINT) AS band FROM rt)
         |SELECT d.doc_id, d.lang, CAST($u AS BIGINT) AS mix_key, nm.band
         |FROM documents d JOIN nm ON nm.lang = d.lang
         |WHERE $u < nm.band
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      val tgt = "CASE lang WHEN 'de' THEN 250 WHEN 'en' THEN 350 WHEN 'es' THEN 200 WHEN 'fr' THEN 150 ELSE 50 END"
      val tl = Tables.documents(s, d)
        .groupBy("lang")
        .agg(sum(size(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).cast("long")).as("n_tokens"))
      val t = tl.agg(sum("n_tokens").as("total"))
      val nm = tl.crossJoin(broadcast(t)) // 1-row total
        .withColumn("ratio", expr(s"cast(($tgt) * total as double) / 1000 / n_tokens"))
        .withColumn("band", expr(
          "cast(floor(ratio / max(ratio) over () * 1000000) as bigint)")) // result-sized frame
        .select("lang", "band")
      val u = s"${sparkH("concat('mix:', cast(doc_id as string))")} % 1000000"
      Tables.documents(s, d)
        .withColumn("mix_key", expr(u))
        .join(broadcast(nm), "lang") // language-cardinality rate table
        .filter(col("mix_key") < col("band"))
        .select(col("doc_id"), col("lang"), col("mix_key"), col("band"))
        .orderBy("doc_id")
    },

    // Collocation mining — corpus-wide top-50 adjacent-token pairs by PMI
    // (pointwise mutual information), the phrase-vocabulary signal feeding
    // multi-word tokenizer entries and BPE seeding (tx_bpe ranks pairs by
    // raw frequency; PMI surfaces pairs frequent RELATIVE to their parts).
    // Float discipline: the rank key is ln(p(ab)/(p(a)p(b))) computed as
    // ONE identical double chain from exact integer counts, quantized to a
    // 6-dp scaled BIGINT (the tx_bm25/tx_lm_score stance) — ranking and
    // the emitted score both derive from the integer key, never a raw
    // float boundary. Scale shape: one map-side-combined (pair) count +
    // one (token) count; the unigram side joins at vocab size (AQE
    // broadcasts), totals are 1-row aggregates, and the top-50 is a
    // TakeOrderedAndProject on the min-count survivors.
    Q("tx_pmi",
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |uni AS (SELECT unnest(toks) AS w FROM tk),
         |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM uni GROUP BY w),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM uni),
         |bg AS (
         |  SELECT array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 1 AS INT)), ' ') AS pair
         |  FROM tk, unnest(generate_series(1, len(toks) - 1)) AS t(i)
         |  WHERE len(toks) >= 2
         |),
         |bc AS (SELECT pair, split_part(pair, ' ', 1) AS wa, split_part(pair, ' ', 2) AS wb,
         |         CAST(count(*) AS BIGINT) AS cab
         |       FROM bg GROUP BY pair),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM bg),
         |sc AS (
         |  SELECT bc.pair, bc.cab,
         |    CAST(round(ln((CAST(bc.cab AS DOUBLE) * nt.n_tok * nt.n_tok) /
         |                  (CAST(nb.n_big AS DOUBLE) * ua.cw * ub.cw)) * 1000000, 0) AS BIGINT) AS pmi_key
         |  FROM bc CROSS JOIN nt CROSS JOIN nb
         |  JOIN uc ua ON ua.w = bc.wa
         |  JOIN uc ub ON ub.w = bc.wb
         |  WHERE bc.cab >= $pmiMinCount
         |)
         |SELECT pair, cab AS n_pair, CAST(pmi_key AS DOUBLE) / 1000000 AS pmi
         |FROM sc ORDER BY pmi_key DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val uni = tk.select(explode(col("toks")).as("w"))
      val uc = uni.groupBy("w").agg(count(lit(1)).as("cw"))
      val nt = uni.agg(count(lit(1)).as("n_tok"))
      val bg = tk.filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
          .as("pair"))
      // unigrams re-derive from the pair AFTER grouping: a min(string)
      // aggregate is var-length → SortAggregate + an extra sort; count
      // alone keeps the pair rollup on the fast hash-agg path
      val bc = bg.groupBy("pair").agg(count(lit(1)).as("cab"))
        .withColumn("wa", expr("split(pair, ' ')[0]"))
        .withColumn("wb", expr("split(pair, ' ')[1]"))
      val nb = bg.agg(count(lit(1)).as("n_big"))
      bc.filter(col("cab") >= pmiMinCount)
        .crossJoin(broadcast(nt)) // 1-row totals
        .crossJoin(broadcast(nb))
        .join(uc.select(col("w").as("wa"), col("cw").as("ca")), "wa")
        .join(uc.select(col("w").as("wb"), col("cw").as("cb")), "wb")
        .withColumn("pmi_key", expr(
          "cast(round(ln((cast(cab as double) * n_tok * n_tok) / " +
            "(cast(n_big as double) * ca * cb)) * 1000000, 0) as bigint)"))
        .orderBy(col("pmi_key").desc, col("pair"))
        .limit(50)
        .select(col("pair"), col("cab").as("n_pair"),
          (col("pmi_key").cast("double") / 1000000).as("pmi"))
    },

    // Importance-resampling weights (the DSIR shape — Xie et al. 2023,
    // "Data Selection for Language Models via Importance Resampling"):
    // score every raw doc by how much its hashed-token distribution looks
    // like a TARGET slice (here lang='en' — language/domain-directed
    // selection). Features are md5-hashed token buckets; each bucket gets
    // a Laplace-smoothed log-likelihood ratio ln(p_tgt/p_raw), computed as
    // ONE identical double chain from exact integer counts and quantized
    // to a 6-dp scaled BIGINT (the tx_pmi float discipline); a doc's score
    // is the INTEGER dot product of its bucket counts with that table —
    // order-free, hash-exact. Downstream resampling takes the top mass by
    // score (the top-k patterns elsewhere); no corpus-wide rank window
    // here by design. Scale shape: one token explode feeding three
    // map-side-combined aggregates (bucket cardinality = $dsirB, so
    // partial agg collapses each task to ≤$dsirB rows), the ratio table
    // is $dsirB rows (broadcast — at production scale DSIR uses ~1e4
    // buckets, still constant), and the per-doc rollup is one doc_id
    // shuffle. Raw text is touched exactly once.
    Q("tx_dsir",
      s"""WITH f AS (
         |  SELECT doc_id, lang,
         |    ('0x' || substring(md5('dsir:' || t.tok), 1, 15))::BIGINT % $dsirB AS b
         |  FROM documents, unnest(regexp_extract_all(lower(text), '$tokRegex')) AS t(tok)
         |),
         |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS craw FROM f GROUP BY b),
         |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ctgt FROM f WHERE lang = 'en' GROUP BY b),
         |tots AS (
         |  SELECT CAST(count(*) AS BIGINT) AS traw,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ttgt
         |  FROM f
         |),
         |lr AS (
         |  SELECT raw.b,
         |    CAST(round(ln((CAST(coalesce(tgt.ctgt, 0) + 1 AS DOUBLE) * (tots.traw + $dsirB)) /
         |                  (CAST(raw.craw + 1 AS DOUBLE) * (tots.ttgt + $dsirB))) * 1000000, 0) AS BIGINT) AS lr
         |  FROM raw LEFT JOIN tgt ON tgt.b = raw.b CROSS JOIN tots
         |),
         |dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY doc_id, b),
         |sc AS (SELECT dc.doc_id, CAST(sum(dc.n * lr.lr) AS BIGINT) AS score_micro
         |       FROM dc JOIN lr ON lr.b = dc.b GROUP BY dc.doc_id)
         |SELECT d.doc_id, d.lang, coalesce(sc.score_micro, CAST(0 AS BIGINT)) AS score_micro
         |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      dsirScoreDF(Tables.documents(s, d)).orderBy("doc_id")
    },

    // BPE merge training — the actual tokenizer-training step (tx_vocab is
    // its precursor): iteratively find the most frequent adjacent token
    // pair and merge it corpus-wide, emitting the learned merge table.
    // Exact greedy left-to-right merge semantics ride a plain `replace`:
    // tokens are joined by TWO spaces, so each ' a  b ' match consumes
    // half of each boundary separator — consecutive disjoint pairs still
    // match, overlapping ones (shared middle token) correctly don't, and
    // both engines' non-overlapping replace produce identical strings.
    // Scale shape: each round is one explode + map-side-combined pair
    // count, a 1-row argmax broadcast-cross-joined into a row-local
    // rewrite; rounds are inherently serial (BPE is), each state persisted
    // so round N+1 reads round N instead of replaying the chain. At 100 TB
    // BPE trains on a sampled subcorpus (tx_sample upstream) — the shape
    // here is per-round linear regardless.
    Q("tx_bpe",
      s"""WITH $bpeOracleCtes
         |SELECT merge_rank, replace(pair, '  ', ' ') AS pair, merged, freq
         |FROM (${(1 to bpeIters).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")})
         |ORDER BY merge_rank""".stripMargin) { (s, d) =>
      bpeMergesDF(Tables.documents(s, d))
    },

    // BPE APPLICATION — tokenize the corpus with the learned merges (the
    // step after tx_bpe training, and the real producer of the token
    // counts tx_pack bins on): per doc, pieces after all merges, merges
    // applied (= n_tokens − n_pieces, each application fuses two pieces),
    // and the compression ratio. Rides the training loop's final state —
    // the merged corpus is materialized by training anyway, so apply adds
    // one row-local piece count + a doc_id join, no extra replace pass.
    // At 100 TB apply runs with a BROADCAST merge table over the full
    // corpus while training ran on a sample (the tx_bpe stance); here both
    // run on the same corpus so the oracle can replay the identical chain.
    Q("tx_bpe_apply",
      s"""WITH $bpeOracleCtes,
         |base AS (
         |  SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '$tokRegex')) AS BIGINT) AS n_tokens
         |  FROM documents
         |)
         |SELECT b.doc_id, b.n_tokens,
         |  CAST(CASE WHEN b.n_tokens = 0 THEN 0 ELSE len(string_split(f.s, '  ')) END AS BIGINT) AS n_pieces,
         |  b.n_tokens - CAST(CASE WHEN b.n_tokens = 0 THEN 0 ELSE len(string_split(f.s, '  ')) END AS BIGINT) AS n_merged,
         |  CAST(CASE WHEN b.n_tokens = 0 THEN 0 ELSE len(string_split(f.s, '  ')) END AS BIGINT) * 1.0
         |    / greatest(b.n_tokens, 1) AS compression
         |FROM base b JOIN s${bpeIters + 1} f ON f.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, finalState) = bpeTrain(docs)
      val base = docs.select(col("doc_id"),
        size(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).cast("long").as("n_tokens"))
      base.join(finalState, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          when(col("n_tokens") === 0, 0L)
            .otherwise(size(split(col("s"), "  ")).cast("long")).as("n_pieces"))
        .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
          (col("n_tokens") - col("n_pieces")).as("n_merged"),
          // UNROUNDED integer/integer quotient (the Q.exactSum tie pitfall)
          expr("n_pieces * 1.0D / greatest(n_tokens, 1)").as("compression"))
        .orderBy("doc_id")
    },

    // Tokenizer fertility by language — the cross-lingual equity metric of
    // tokenizer reports: chars-per-piece under the corpus-trained BPE
    // (tx_bpe's own merge chain), rolled up per LANGUAGE. A language whose
    // fertility runs far below the corpus mean is being fragmented by a
    // tokenizer trained on someone else's distribution — the signal that
    // drives vocab rebalancing / per-language byte budgets in mixture
    // planning. All counts are exact integers; the fertility quotient is
    // one UNROUNDED double division of exact integers (the tx_bpe_apply
    // stance). Scale shape: rides the same bpeTrain chain (the honest
    // self-contained price, like every tx_bpe_* query); the rollup itself
    // is one map-side-combined lang aggregate over doc-sized rows.
    Q("tx_fertility",
      s"""WITH $bpeOracleCtes,
         |base AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(len(regexp_extract_all(lower(text), '$tokRegex')) AS BIGINT) AS n_tokens
         |  FROM documents
         |),
         |per AS (
         |  SELECT b.lang, b.n_chars,
         |    CAST(CASE WHEN b.n_tokens = 0 THEN 0 ELSE len(string_split(f.s, '  ')) END AS BIGINT) AS n_pieces
         |  FROM base b JOIN s${bpeIters + 1} f ON f.doc_id = b.doc_id
         |)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(n_pieces) AS BIGINT) AS sum_pieces,
         |  CAST(sum(n_chars) AS DOUBLE) / greatest(CAST(sum(n_pieces) AS BIGINT), 1) AS chars_per_piece
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, finalState) = bpeTrain(docs)
      val base = docs.select(col("doc_id"), col("lang"), col("n_chars"),
        size(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).cast("long").as("n_tokens"))
      base.join(finalState, "doc_id")
        .select(col("lang"), col("n_chars"),
          when(col("n_tokens") === 0, 0L)
            .otherwise(size(split(col("s"), "  ")).cast("long")).as("n_pieces"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"), sum("n_pieces").as("sum_pieces"))
        .select(col("lang"), col("n_docs"), col("sum_chars"), col("sum_pieces"),
          expr("cast(sum_chars as double) / greatest(sum_pieces, 1)").as("chars_per_piece"))
        .orderBy("lang")
    },

    // Winnowing is row-local: k-gram hashes, sliding-window minima and the
    // per-doc distinct are all array expressions on the doc's own row — no
    // explode, no per-doc window function, no shuffle (a (doc, pos) explode
    // + windowed min would shuffle |corpus|·|chars| rows to accomplish the
    // same thing). Only full windows are kept, per standard winnowing.
    Q("tx_fingerprint",
      s"""WITH ga AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(length(text) - ${gramLen - 1}, 1)), i -> ${duckH(s"substring(text, CAST(i AS INT), $gramLen)")}) AS g
         |  FROM documents
         |)
         |SELECT doc_id,
         |  unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(g) - ${winLen - 1}, 1)),
         |    j -> list_min(list_slice(g, j, j + ${winLen - 1}))))) AS fp
         |FROM ga ORDER BY doc_id, fp""".stripMargin) { (s, d) =>
      // Spark body mirrors the oracle's row-local form with codegen'd
      // Expressions in place of interpreted list lambdas: md5_grams hashes
      // every 8-char window off ONE shared byte buffer per doc, winnow
      // folds the window minima + distinct in an O(grams) deque pass —
      // pure projection, zero shuffles before the output sort (the former
      // shape exploded a row per char position through a per-doc window)
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(expr(s"winnow(md5_grams(text, $gramLen), $winLen)")).as("fp"))
        .orderBy("doc_id", "fp")
    },

    // Corpus length-distribution report — the dataset-card quantile table
    // (p50/p90/p99 doc length per language, plus exact mean). Quantiles are
    // DISCRETE (the value at rank ceil(p·n), an actual element): rank
    // selection is pure integer logic, so the gate never touches an
    // interpolated float (percentile_cont's (1-f)·a+f·b runs in different
    // op orders across engines and 0.9/0.99 fractions aren't binary-exact).
    // Scale shape: one pass builds per-language counts; the rank window
    // sorts within language partitions (per-group sort, the tx_pack
    // sharding caveat applies to mega-groups); the 100 TB path is
    // approx_percentile's constant-memory mergeable sketch, spec-pinned
    // within rank tolerance of this exact operator (CurationSpec).
    Q("tx_len_quantiles",
      s"""WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM documents GROUP BY lang),
         |rk AS (
         |  SELECT lang, n_chars,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn
         |  FROM documents
         |),
         |q AS (
         |  SELECT rk.lang,
         |    max(CASE WHEN rn = CAST(ceil(0.50 * n_docs) AS BIGINT) THEN n_chars END) AS p50,
         |    max(CASE WHEN rn = CAST(ceil(0.90 * n_docs) AS BIGINT) THEN n_chars END) AS p90,
         |    max(CASE WHEN rn = CAST(ceil(0.99 * n_docs) AS BIGINT) THEN n_chars END) AS p99
         |  FROM rk JOIN n USING (lang) GROUP BY rk.lang
         |)
         |SELECT n.lang, n.n_docs, CAST(n.sum_chars AS DOUBLE) / n.n_docs AS mean_chars,
         |  CAST(q.p50 AS BIGINT) AS p50, CAST(q.p90 AS BIGINT) AS p90, CAST(q.p99 AS BIGINT) AS p99
         |FROM n JOIN q USING (lang)
         |ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      val rk = docs.select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .select("lang", "n_chars", "rn")
      val q = rk.join(n.select("lang", "n_docs"), "lang")
        .groupBy("lang")
        .agg(
          max(when(col("rn") === expr("cast(ceil(0.50D * n_docs) as bigint)"), col("n_chars"))).as("p50"),
          max(when(col("rn") === expr("cast(ceil(0.90D * n_docs) as bigint)"), col("n_chars"))).as("p90"),
          max(when(col("rn") === expr("cast(ceil(0.99D * n_docs) as bigint)"), col("n_chars"))).as("p99"))
      n.join(q, "lang")
        .select(col("lang"), col("n_docs"),
          // UNROUNDED exact-integer quotient (the Q.exactSum stance)
          expr("cast(sum_chars as double) / n_docs").as("mean_chars"),
          col("p50").cast("long").as("p50"), col("p90").cast("long").as("p90"),
          col("p99").cast("long").as("p99"))
        .orderBy("lang")
    },

    // Okapi BM25 retrieval — the lexical-retrieval side of data curation
    // (query-by-example dedup audits, RAG indexing, eval-set neighbor
    // mining). Queries are the held-out eval docs' first 8 tokens (the
    // tx_decontam eval slice standing in for an external query batch).
    // Scale shape: the query-term table is benchmark-sized by construction,
    // so joining it into tf FIRST prunes the corpus to docs sharing ≥1 query
    // term before any scoring work (AQE broadcasts the tiny side — the
    // tx_decontam stance); tf/dl are one map-side-combined (doc, token)
    // shuffle each; df aggregates FROM tf (vocab-sized). Float determinism:
    // each (query, doc, term) contribution is one identical chain of double
    // ops in both engines (ln is the only transcendental), QUANTIZED to a
    // 6-dp scaled BIGINT and summed in pure long arithmetic (the Q.exactSum
    // stance) — so per-doc sums are order-free and the rank key is an exact
    // integer, never a float boundary.
    Q("tx_bm25", {
      val contrib = "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))" +
        " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      s"""WITH tf AS (
         |  SELECT doc_id, t AS token, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$tokRegex')) AS t FROM documents)
         |  GROUP BY doc_id, t
         |),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, CAST(count(*) AS BIGINT) AS n_docs FROM dl),
         |qt AS (
         |  SELECT DISTINCT doc_id AS query_id, t AS token
         |  FROM (SELECT doc_id, unnest(list_slice(regexp_extract_all(lower(text), '$tokRegex'), 1, $bm25QTok)) AS t
         |        FROM documents WHERE doc_id % $evalMod = 0)
         |),
         |sc AS (
         |  SELECT qt.query_id, tf.doc_id, CAST(sum(CAST(round(($contrib) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sq
         |  FROM qt JOIN tf USING (token)
         |  JOIN dfreq USING (token) JOIN dl ON dl.doc_id = tf.doc_id
         |  CROSS JOIN stats
         |  WHERE tf.doc_id <> qt.query_id
         |  GROUP BY qt.query_id, tf.doc_id
         |)
         |SELECT query_id, doc_id, CAST(sq AS DOUBLE) / 1000000 AS bm25
         |FROM sc
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sq DESC, doc_id) <= $bm25TopK
         |ORDER BY query_id, doc_id""".stripMargin
    }) { (s, d) =>
      bm25DF(Tables.documents(s, d))
    },

    // Hybrid retrieval — Reciprocal Rank Fusion of the lexical (BM25) and
    // vector (cosine) rankings, the fusion every modern retrieval stack
    // ships (RAG indexes, dedup-audit search, eval-neighbor mining):
    // score(d) = Σ_legs 1/(60 + rank_leg(d)) over each leg's top-10.
    // The trick that makes fusion EXACT: ranks live in 1..10, so with
    // L = lcm(61..70) every contribution L/(60+r) is an exact integer
    // division and the fused score is a pure BIGINT sum — no float ever
    // enters the fusion, and the fused rank key cannot sit on a boundary.
    // Doc↔vector identity is vec_id = doc_id (the corpus contract).
    // Scale shape: the lexical leg is the tx_bm25 chain (postings scored
    // once, query side benchmark-sized); the vector leg is the
    // sim_topk_cosine shape (query batch broadcast over one corpus scan,
    // codegen vector_dot — production swaps in the staged IVF route);
    // the fusion itself joins two benchmark×10-sized rank lists.
    Q("tx_hybrid_rrf", {
      val contrib = "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))" +
        " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      s"""WITH tf AS (
         |  SELECT doc_id, t AS token, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$tokRegex')) AS t FROM documents)
         |  GROUP BY doc_id, t
         |),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, CAST(count(*) AS BIGINT) AS n_docs FROM dl),
         |qt AS (
         |  SELECT DISTINCT doc_id AS query_id, t AS token
         |  FROM (SELECT doc_id, unnest(list_slice(regexp_extract_all(lower(text), '$tokRegex'), 1, $bm25QTok)) AS t
         |        FROM documents WHERE doc_id % $evalMod = 0)
         |),
         |sc AS (
         |  SELECT qt.query_id, tf.doc_id, CAST(sum(CAST(round(($contrib) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sq
         |  FROM qt JOIN tf USING (token)
         |  JOIN dfreq USING (token) JOIN dl ON dl.doc_id = tf.doc_id
         |  CROSS JOIN stats
         |  WHERE tf.doc_id <> qt.query_id
         |  GROUP BY qt.query_id, tf.doc_id
         |),
         |lex AS (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sq DESC, doc_id) AS BIGINT) AS r
         |  FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sq DESC, doc_id) <= $bm25TopK
         |),
         |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |nv AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ev),
         |vss AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
         |  FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id % $evalMod = 0
         |),
         |vec AS (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS BIGINT) AS r
         |  FROM vss
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) <= $bm25TopK
         |),
         |fused AS (
         |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |    coalesce(l.doc_id, v.doc_id) AS doc_id,
         |    CAST(coalesce($rrfL // (60 + l.r), 0) + coalesce($rrfL // (60 + v.r), 0) AS BIGINT) AS rrf_scaled,
         |    CAST((CASE WHEN l.r IS NOT NULL THEN 1 ELSE 0 END)
         |       + (CASE WHEN v.r IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_legs
         |  FROM lex l FULL JOIN vec v ON v.query_id = l.query_id AND v.doc_id = l.doc_id
         |)
         |SELECT query_id, doc_id, rrf_scaled, n_legs,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS INT) AS rank
         |FROM fused ORDER BY query_id, doc_id""".stripMargin
    }) { (s, d) =>
      hybridRrfDF(Tables.documents(s, d), Tables.embeddings(s, d))
        .orderBy("query_id", "doc_id")
    },

    // Model-based quality scoring — the fastText/DCLM-style hashed linear
    // classifier that decides keep/drop at corpus scale: tokens hash into
    // qfDim=1024 feature buckets, a weight table (here deterministically
    // derived fixed-point integers standing in for trained weights, the
    // blockList stance) scores each doc by its mean feature weight. Scale
    // shape: the model IS the weight table — swapping in real trained
    // weights is a data swap, not a code change; it is constant-sized, so
    // broadcast by construction; per-doc shuffle fan-out is capped at qfDim
    // rows regardless of vocabulary (hashing trick), map-side-combined.
    // Exactness: integer weights × integer counts → the score's numerator
    // is an exact BIGINT; keep/drop gates on the integer, not the float.
    Q("tx_quality_score", {
      s"""WITH $qualityAggCtes
         |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.raw, 0) * 1.0 / (1000 * greatest(coalesce(a.n_tokens, 0), 1)) AS qscore,
         |  CAST(CASE WHEN coalesce(a.raw, 0) >= 0 THEN 1 ELSE 0 END AS INT) AS keep
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      Tables.documents(s, d).select("doc_id")
        .join(qualityAggDF(s, Tables.documents(s, d)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          // UNROUNDED: integer/integer quotients land ON exact 4-dp ties
          // (the Q.exactSum pitfall) — the single double division itself
          // is bit-identical across engines, so no rounding is needed
          expr("coalesce(raw, 0L) * 1.0D / (1000 * greatest(coalesce(n_tokens, 0L), 1))").as("qscore"),
          expr("cast(CASE WHEN coalesce(raw, 0L) >= 0 THEN 1 ELSE 0 END as int)").as("keep"))
        .orderBy("doc_id")
    },

    // Quality-threshold sensitivity sweep (the dd_threshold_curve stance
    // applied to the classifier gate): docs and tokens KEPT at qscore
    // cutoffs t/1000 for t in ${-50..50}, all five points from ONE pass
    // over the scored frame — the "where should the keep bar sit for THIS
    // corpus" audit behind every filter deployment. The gate is the exact
    // integer cross-product raw ≥ t·n_tokens (never the float score), so
    // the curve is hash-exact; the sweep is a 5-literal-row theta join
    // against the doc-sized score table, counted map-side.
    Q("tx_quality_curve",
      s"""WITH $qualityAggCtes,
         |base AS (
         |  SELECT d.doc_id, coalesce(a.raw, 0) AS raw, coalesce(a.n_tokens, 0) AS n
         |  FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |),
         |ts AS (SELECT unnest([${qCurveTs.mkString(", ")}]) AS t)
         |SELECT CAST(t AS BIGINT) AS t_mill,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN raw >= t * n THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(sum(CASE WHEN raw >= t * n THEN n ELSE 0 END) AS BIGINT) AS kept_tokens,
         |  sum(CASE WHEN raw >= t * n THEN 1 ELSE 0 END) * 1.0 / count(*) AS keep_rate
         |FROM base, ts GROUP BY t ORDER BY t_mill""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id")
        .join(qualityAggDF(s, Tables.documents(s, d)), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("raw"), lit(0L)).as("raw"),
          coalesce(col("n_tokens"), lit(0L)).as("n"))
      val tsDF = s.createDataFrame(qCurveTs.map(Tuple1(_))).toDF("t")
      base.crossJoin(broadcast(tsDF))
        .groupBy("t")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("raw") >= col("t") * col("n"), 1L).otherwise(0L)).as("n_keep"),
          sum(when(col("raw") >= col("t") * col("n"), col("n")).otherwise(0L)).as("kept_tokens"))
        .select(col("t").cast("long").as("t_mill"), col("n_docs"), col("n_keep"),
          col("kept_tokens"), expr("n_keep * 1.0D / n_docs").as("keep_rate"))
        .orderBy("t_mill")
    },

    // Token-budget-constrained selection — the data-constrained-regime
    // curation op ("give me the best 40% of tokens"): keep the highest
    // quality-score LEVELS whose cumulative token count fits the budget.
    // No global doc sort: docs bin to integer score-mill levels (floor of
    // a deterministic double chain — BIGINT `div` is out because Spark
    // truncates negatives toward zero while DuckDB floors), the level
    // HISTOGRAM takes a descending prefix sum (a bounded constant-
    // partition window over score-level summaries — the documented
    // ev_concentration exception, never doc-sized), and the keep
    // threshold is the lowest level still inside budget, broadcast back
    // as a 1-row aggregate. Level-granular by design: a partial marginal
    // level would need a within-level global ranking — the exact shape
    // this op exists to avoid; the budget is a floor, not a target.
    Q("tx_budget_select", {
      s"""WITH $qualityAggCtes,
         |base AS (
         |  SELECT d.doc_id, coalesce(a.raw, 0) AS raw,
         |    coalesce(a.n_tokens, 0) AS n
         |  FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |),
         |lv AS (
         |  SELECT doc_id, n,
         |    CAST(floor(CAST(raw AS DOUBLE) * 1000 / greatest(n, 1)) AS BIGINT) AS smill
         |  FROM base
         |),
         |bud AS (SELECT CAST(sum(n) * $budgetMill // 1000 AS BIGINT) AS budget FROM lv),
         |hist AS (SELECT smill, CAST(sum(n) AS BIGINT) AS toks FROM lv GROUP BY 1),
         |cum AS (
         |  SELECT smill,
         |    sum(toks) OVER (ORDER BY smill DESC ROWS UNBOUNDED PRECEDING) AS ctoks
         |  FROM hist
         |),
         |thr AS (
         |  SELECT min(CASE WHEN cum.ctoks <= bud.budget THEN cum.smill END) AS t,
         |    CAST(max(bud.budget) AS BIGINT) AS budget
         |  FROM cum CROSS JOIN bud
         |)
         |SELECT lv.doc_id, lv.smill, lv.n AS n_tokens, thr.budget,
         |  CAST(CASE WHEN thr.t IS NOT NULL AND lv.smill >= thr.t
         |       THEN 1 ELSE 0 END AS INT) AS keep
         |FROM lv CROSS JOIN thr ORDER BY lv.doc_id""".stripMargin
    }) { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id")
        .join(qualityAggDF(s, Tables.documents(s, d)), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("raw"), lit(0L)).as("raw"),
          coalesce(col("n_tokens"), lit(0L)).as("n"))
      budgetSelectDF(base).orderBy("doc_id")
    },

    // Cross-document boilerplate LINE removal — the CCNet/RefinedWeb
    // line-dedup pass, and the corrective counterpart of dd_spans'
    // detection: a line whose corpus document-frequency reaches
    // [[boilerDf]] is removed from EVERY document (unlike dd_chunk's
    // first-occurrence-wins — repeated navigation/footer text is noise
    // wherever it appears), and the document text is REWRITTEN from the
    // surviving lines. The synthetic corpus is single-line word soup, so a
    // "line" here is a fixed [[lineWords]]-word segment; a real crawl
    // splits on '\n' and the plan is identical.
    //
    // Scale shape: the line array is a row-local projection; the df pass
    // is one map-side-combined distinct (line_hash, doc_id) shuffle; the
    // boilerplate set (df >= threshold) is result-sized, so AQE broadcasts
    // the membership join (no hint); the rebuild is ONE doc_id shuffle
    // carrying each line's text exactly once — the unavoidable payload of
    // a rewriting operator, since hashes alone cannot reassemble text. No
    // window spans the corpus; nothing is collected to the driver.
    // removed_frac is the UNROUNDED integer/integer quotient (the
    // tx_quality_score stance — k/2^m quotients land ON exact 4-dp
    // rounding ties where the engines disagree).
    Q("tx_line_dedup",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |ln AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    array_to_string(ws[(i*$lineWords+1):(i*$lineWords+$lineWords)], ' ') AS line
         |  FROM w, unnest(generate_series(0, CAST(ceil(len(ws)/$lineWords.0) AS BIGINT) - 1)) AS t(i)
         |),
         |boiler AS (
         |  SELECT md5(line) AS lh FROM ln
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= $boilerDf
         |),
         |tagged AS (
         |  SELECT l.doc_id, l.pos, l.line, (b.lh IS NOT NULL) AS is_b
         |  FROM ln l LEFT JOIN boiler b ON md5(l.line) = b.lh
         |)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  sum(CASE WHEN is_b THEN 1 ELSE 0 END) * 1.0 / count(*) AS removed_frac,
         |  md5(coalesce(string_agg(CASE WHEN NOT is_b THEN line END, ' ' ORDER BY pos), '')) AS clean_hash
         |FROM tagged GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      lineDedupDF(Tables.documents(s, d)).orderBy("doc_id")
    },

    // LIX readability — the audience-difficulty signal corpus curators
    // use alongside lexical quality gates (textbook-style filtering,
    // curriculum bucketing, grade-level mix targets):
    // LIX = words/sentences + 100·longwords/words, with longword =
    // a token run of ≥7 chars and sentences = runs of [.!?] (floored at
    // 1 so a fragment without a terminator still scores). All three
    // counts are exact integers from codegen'd regexp_extract_all sizes —
    // no interpreted lambda touches the corpus scan — and the score is a
    // fixed-association chain of two exact-integer quotients and one add,
    // identical in both engines, emitted UNROUNDED. Scale shape: one
    // pushdown scan, three row-local regex counts, zero shuffles before
    // the output sort.
    Q("tx_readability",
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(coalesce(text, '')), '$tokRegex')) AS BIGINT) AS n_words,
         |    CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]{7,}')) AS BIGINT) AS n_long,
         |    CAST(greatest(len(regexp_extract_all(coalesce(text, ''), '[.!?]+')), 1) AS BIGINT) AS n_sent
         |  FROM documents
         |)
         |SELECT doc_id, n_words, n_long, n_sent,
         |  CASE WHEN n_words = 0 THEN CAST(0 AS DOUBLE)
         |       ELSE (CAST(n_words AS DOUBLE) / n_sent)
         |          + ((100.0 * CAST(n_long AS DOUBLE)) / n_words) END AS lix
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      readabilityDF(Tables.documents(s, d))
        .select("doc_id", "n_words", "n_long", "n_sent", "lix")
        .orderBy("doc_id")
    },

    // Curriculum phase manifest — the easy→hard training schedule
    // (curriculum learning: feed low-difficulty text first, harden over
    // phases): per language, docs rank by LIX difficulty ((lix, doc_id)
    // total order — lix values are bit-identical deterministic doubles,
    // doc_id breaks ties) and split into three equal phases by PURE
    // INTEGER rank arithmetic: phase = 1 + (rank−1)·3 div n — no
    // percentile float, no boundary a double could flip. Per-language
    // (not global) is both the deployable semantics (mixing is a separate
    // knob — tx_mix_plan) and the scale shape: every window partitions by
    // lang. The 100 TB swap for a mega-language is the documented
    // tx_len_quantiles stance (approx-quantile threshold VALUES instead
    // of a full per-lang rank sort); the rank form is the exact operator.
    Q("tx_curriculum",
      s"""WITH c AS (
         |  SELECT doc_id, lang,
         |    CAST(len(regexp_extract_all(lower(coalesce(text, '')), '$tokRegex')) AS BIGINT) AS n_words,
         |    CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]{7,}')) AS BIGINT) AS n_long,
         |    CAST(greatest(len(regexp_extract_all(coalesce(text, ''), '[.!?]+')), 1) AS BIGINT) AS n_sent
         |  FROM documents
         |),
         |lx AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN n_words = 0 THEN CAST(0 AS DOUBLE)
         |         ELSE (CAST(n_words AS DOUBLE) / n_sent)
         |            + ((100.0 * CAST(n_long AS DOUBLE)) / n_words) END AS lix
         |  FROM c
         |),
         |lrk AS (
         |  SELECT doc_id, lang, lix,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY lix, doc_id) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM lx
         |)
         |SELECT doc_id, lang, lix,
         |  CAST(1 + ((rn - 1) * 3) // n AS INT) AS phase
         |FROM lrk ORDER BY doc_id""".stripMargin) { (s, d) =>
      val lx = readabilityDF(Tables.documents(s, d))
        .select("doc_id", "lang", "lix")
      val byLang = Window.partitionBy("lang").orderBy(col("lix"), col("doc_id"))
      lx
        .withColumn("rn", row_number().over(byLang).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        .select(col("doc_id"), col("lang"), col("lix"),
          expr("cast(1 + ((rn - 1) * 3) div n as int)").as("phase"))
        .orderBy("doc_id")
    },

    // The Gopher composite quality gate — the Rae-et-al. repetition +
    // lexical rules as ONE keep/drop decision with a reasons trail, the
    // form a pipeline actually deploys (tx_quality_filter's lexical rules,
    // tx_repetition's n-gram signals, and the WITHIN-doc duplicate-line
    // fractions — a different quantity from tx_line_dedup's corpus df —
    // joined into a single verdict). All signals are exact-integer ratios
    // emitted UNROUNDED; thresholds compare identically-computed doubles,
    // so the verdict can never sit on a float boundary the engines read
    // differently. Scale shape: tokenize/segment/gram passes are row-local
    // explodes collapsed map-side per doc; every joined signal table is
    // doc-sized; reasons are a fixed-order concat_ws (both engines skip
    // NULLs), 'ok' when none fire.
    Q("tx_gopher_gate", {
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |base AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) / greatest(len(toks), 1) AS mean_wlen
         |  FROM tk
         |),
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |ln AS (
         |  SELECT doc_id, array_to_string(ws[(i*$lineWords+1):(i*$lineWords+$lineWords)], ' ') AS line
         |  FROM w, unnest(generate_series(0, CAST(ceil(len(ws)/$lineWords.0) AS BIGINT) - 1)) AS t(i)
         |),
         |lc AS (SELECT doc_id, line, CAST(count(*) AS BIGINT) AS c FROM ln GROUP BY 1, 2),
         |lstat AS (
         |  SELECT doc_id,
         |    sum(c - 1) * 1.0 / sum(c) AS dup_line_frac,
         |    sum((c - 1) * length(line)) * 1.0 / greatest(sum(c * length(line)), 1) AS dup_line_char_frac
         |  FROM lc GROUP BY 1
         |),
         |g2 AS (
         |  SELECT doc_id, array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 1 AS INT)), ' ') AS g
         |  FROM tk, unnest(generate_series(1, len(toks) - 1)) AS t(i) WHERE len(toks) >= 2
         |),
         |c2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM g2 GROUP BY 1, 2),
         |r2 AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top2_frac FROM c2 GROUP BY 1),
         |g3 AS (
         |  SELECT doc_id, array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 2 AS INT)), ' ') AS g
         |  FROM tk, unnest(generate_series(1, len(toks) - 2)) AS t(i) WHERE len(toks) >= 3
         |),
         |c3 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM g3 GROUP BY 1, 2),
         |r3 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c) AS dup3_frac FROM c3 GROUP BY 1),
         |f AS (
         |  SELECT b.doc_id, b.n_words, b.mean_wlen,
         |    coalesce(l.dup_line_frac, 0.0) AS dup_line_frac,
         |    coalesce(l.dup_line_char_frac, 0.0) AS dup_line_char_frac,
         |    coalesce(r2.top2_frac, 0.0) AS top2_frac,
         |    coalesce(r3.dup3_frac, 0.0) AS dup3_frac
         |  FROM base b
         |  LEFT JOIN lstat l ON l.doc_id = b.doc_id
         |  LEFT JOIN r2 ON r2.doc_id = b.doc_id
         |  LEFT JOIN r3 ON r3.doc_id = b.doc_id
         |)
         |SELECT doc_id, n_words, mean_wlen, dup_line_frac, dup_line_char_frac, top2_frac, dup3_frac,
         |  CAST(CASE WHEN n_words >= $gMinWords AND n_words <= $gMaxWords
         |    AND mean_wlen >= $gMinWlen AND mean_wlen <= $gMaxWlen
         |    AND dup_line_frac <= $gDupLine AND dup_line_char_frac <= $gDupLineChar
         |    AND top2_frac <= $gTop2 AND dup3_frac <= $gDup3 THEN 1 ELSE 0 END AS INT) AS keep,
         |  coalesce(nullif(concat_ws(';',
         |    CASE WHEN n_words < $gMinWords OR n_words > $gMaxWords THEN 'n_words' END,
         |    CASE WHEN mean_wlen < $gMinWlen OR mean_wlen > $gMaxWlen THEN 'wlen' END,
         |    CASE WHEN dup_line_frac > $gDupLine THEN 'dup_line' END,
         |    CASE WHEN dup_line_char_frac > $gDupLineChar THEN 'dup_line_chars' END,
         |    CASE WHEN top2_frac > $gTop2 THEN 'top_2gram' END,
         |    CASE WHEN dup3_frac > $gDup3 THEN 'dup_3gram' END), ''), 'ok') AS reasons
         |FROM f ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      gopherGateDF(Tables.documents(s, d)).orderBy("doc_id")
    },

    // Statistical language-model quality scoring — the CCNet/RedPajama
    // perplexity filter: a per-LANGUAGE unigram LM with add-1/2 smoothing
    // is trained on the kept pool (non-eval docs, the tx_decontam slice
    // discipline: held-out docs are scored but never train), every doc is
    // scored by its mean negative log-likelihood in nats/token, and docs
    // are bucketed head/middle/tail by within-language NLL rank — the
    // CCNet tercile cut that decides keep/LM-rerank/drop downstream.
    //
    // Scale shape: tf is ONE map-side-combined (doc, lang, token) shuffle
    // (shared algebra with tx_bm25's postings); the model is a vocab-sized
    // aggregate OF tf (no second corpus pass) and stats is lang-sized, so
    // AQE broadcasts both into the scoring join; the rank window partitions
    // by language over doc-sized rows. Float determinism: each distinct
    // token's -ln(p) is one identical chain of double ops in both engines,
    // QUANTIZED to a 6-dp scaled BIGINT and multiplied/summed in pure long
    // arithmetic (the tx_bm25 stance) — per-doc sums are order-free, and
    // the tercile rank orders by a double computed identically from exact
    // longs (ties broken by doc_id), never by a float boundary.
    Q("tx_lm_score", {
      val nlq = s"CAST(round(-ln((coalesce(m.c, 0) + 0.5) / (st.n + 0.5 * st.v)) * 1000000, 0) AS BIGINT)"
      s"""WITH tf AS (
         |  SELECT doc_id, lang, t AS tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '$tokRegex')) AS t FROM documents)
         |  GROUP BY 1, 2, 3
         |),
         |model AS (
         |  SELECT lang, tok, CAST(sum(tf) AS BIGINT) AS c
         |  FROM tf WHERE doc_id % $evalMod <> 0 GROUP BY 1, 2
         |),
         |stats AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM model GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id, tf.lang,
         |    CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |    CAST(sum(tf.tf * $nlq) AS BIGINT) AS sq
         |  FROM tf JOIN stats st USING (lang)
         |  LEFT JOIN model m ON m.lang = tf.lang AND m.tok = tf.tok
         |  GROUP BY 1, 2
         |),
         |rk AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(sq AS DOUBLE) / (1e6 * n_tokens) AS nll,
         |    row_number() OVER (PARTITION BY lang ORDER BY CAST(sq AS DOUBLE) / (1e6 * n_tokens), doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS nl
         |  FROM sc
         |)
         |SELECT doc_id, lang, n_tokens, nll,
         |  CASE (rn - 1) * 3 // nl WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM rk ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      lmScoreDF(Tables.documents(s, d)).orderBy("doc_id")
    },

    // BIGRAM-interpolated LM scoring — the perplexity upgrade over
    // tx_lm_score's unigram model: each adjacent-pair transition scores
    //   p(b|a) = 0.7·c2(ab)/cs(a) + 0.3·(c1(b)+0.5)/(n+0.5v)
    // (interpolated backoff to the smoothed unigram; unseen context falls
    // back entirely). Float discipline: every ratio is INTEGER/INTEGER
    // double division — 0.7·c2/cs is written (7·c2)/(10·cs) and the
    // smoothed term 3·(2·c1b+1)/(10·(2n+v)) — because a 0.7 decimal
    // literal rounds differently through DuckDB's exact-decimal multiply
    // than through a double multiply; each distinct (lang, a, b) then
    // quantizes its −ln to ONE 6-dp scaled long (the tx_lm_score stance),
    // and per-doc sums are pure long arithmetic — order-free.
    //
    // Scale shape: the bigram model is one map-side-combined
    // (lang, a, b) rollup of the SAME pair frame the scorer consumes
    // (single tokenize); context totals aggregate FROM the model (no
    // second corpus pass); scoring joins hash-partition on the pair/
    // context/token keys. Docs under 2 tokens are unscoreable and
    // excluded on both sides.
    Q("tx_lm2_score", {
      val q = "CAST(round(-ln(" +
        "(CASE WHEN cs IS NOT NULL THEN (7 * coalesce(c2, 0)) / (10 * cs) ELSE 0 END)" +
        " + (3 * (2 * coalesce(c1b, 0) + 1)) / (10 * (2 * n + v))" +
        ") * 1000000, 0) AS BIGINT)"
      s"""WITH tk AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, lang, toks[CAST(i AS INT)] AS a, toks[CAST(i + 1 AS INT)] AS b,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM tk, unnest(generate_series(1, len(toks) - 1)) AS t(i)
         |  WHERE len(toks) >= 2
         |  GROUP BY 1, 2, 3, 4
         |),
         |m2 AS (SELECT lang, a, b, CAST(sum(tf) AS BIGINT) AS c2 FROM bg WHERE doc_id % $evalMod <> 0 GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, a, CAST(sum(c2) AS BIGINT) AS cs FROM m2 GROUP BY 1, 2),
         |uni AS (
         |  SELECT lang, t AS tok, CAST(count(*) AS BIGINT) AS c1
         |  FROM (SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '$tokRegex')) AS t FROM documents)
         |  WHERE doc_id % $evalMod <> 0 GROUP BY 1, 2
         |),
         |st AS (SELECT lang, CAST(sum(c1) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM uni GROUP BY 1),
         |sc AS (
         |  SELECT bg.doc_id, bg.lang,
         |    CAST(sum(bg.tf) AS BIGINT) AS n_pairs,
         |    CAST(sum(bg.tf * $q) AS BIGINT) AS sq
         |  FROM bg
         |  JOIN st ON st.lang = bg.lang
         |  LEFT JOIN ctx ON ctx.lang = bg.lang AND ctx.a = bg.a
         |  LEFT JOIN m2 ON m2.lang = bg.lang AND m2.a = bg.a AND m2.b = bg.b
         |  LEFT JOIN uni u1 ON u1.lang = bg.lang AND u1.tok = bg.b
         |  GROUP BY 1, 2
         |)
         |SELECT doc_id, lang, n_pairs, CAST(sq AS DOUBLE) / (1e6 * n_pairs) AS nll2
         |FROM sc ORDER BY doc_id""".stripMargin
      // `c1b` is aliased in via u1.c1 — restated below for the Spark twin
        .replace("coalesce(c1b, 0)", "coalesce(u1.c1, 0)")
        .replace("(2 * n + v)", "(2 * st.n + st.v)")
        .replace("WHEN cs IS", "WHEN ctx.cs IS")
        .replace("(10 * cs)", "(10 * ctx.cs)")
        .replace("coalesce(c2, 0)", "coalesce(m2.c2, 0)")
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bg = docs
        .select(col("doc_id"), col("lang"),
          expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] as a, toks[i] as b))"))
          .as("p"))
        .select(col("doc_id"), col("lang"), col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("doc_id", "lang", "a", "b").agg(count(lit(1)).as("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK) // model build + scoring read it
      val m2 = bg.filter(col("doc_id") % evalMod =!= 0)
        .groupBy("lang", "a", "b").agg(sum("tf").as("c2"))
      val ctx = m2.groupBy("lang", "a").agg(sum("c2").as("cs"))
      val uni = docs
        .select(col("doc_id"), col("lang"),
          explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("t"))
        .filter(col("doc_id") % evalMod =!= 0)
        .groupBy(col("lang"), col("t").as("tok")).agg(count(lit(1)).as("c1"))
      val st = uni.groupBy("lang").agg(sum("c1").as("n"), count(lit(1)).as("v"))
      val q = "CAST(round(-ln(" +
        "(CASE WHEN cs IS NOT NULL THEN (7 * coalesce(c2, 0)) / (10 * cs) ELSE 0 END)" +
        " + (3 * (2 * coalesce(c1b, 0) + 1)) / (10 * (2 * n + v))" +
        ") * 1000000, 0) AS BIGINT)"
      bg
        .join(st, "lang")
        .join(ctx, Seq("lang", "a"), "left")
        .join(m2, Seq("lang", "a", "b"), "left")
        .join(uni.select(col("lang"), col("tok").as("b"), col("c1").as("c1b")),
          Seq("lang", "b"), "left")
        .groupBy("doc_id", "lang")
        .agg(sum("tf").as("n_pairs"), sum(expr(s"tf * $q")).as("sq"))
        .select(col("doc_id"), col("lang"), col("n_pairs"),
          expr("cast(sq as double) / (1e6 * n_pairs)").as("nll2"))
        .orderBy("doc_id")
    },

    // Per-document n-gram NOVELTY — the content-contribution audit behind
    // "does this source add anything?" decisions: a doc's novelty is the
    // share of its distinct word-3-grams that it OWNS, where a gram's
    // owner is the lowest doc_id containing it (first-seen-wins, the
    // dd_incremental arrival order stance). Boilerplate-heavy docs score
    // near 0; unique content scores near 1000 permille. The permille is
    // floor(1000·owned/distinct) — integer on both sides.
    //
    // Scale shape: grams shuffle as 60-bit md5 folds, never strings — one
    // distinct over (gram-hash, doc_id), then a map-side-combined min per
    // gram and two doc-sized count aggregates; the final join is doc-
    // level (AQE broadcasts the smaller side). No self-join, no explode
    // beyond the per-doc gram stream; hash collisions (P = 2^60) affect
    // both engines identically so the result stays hash-exact.
    Q("tx_novelty",
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$tokRegex') AS toks FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id,
         |    ${duckH("array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 2 AS INT)), ' ')")} AS gh
         |  FROM tk, unnest(generate_series(1, len(toks) - 2)) AS t(i)
         |  WHERE len(toks) >= 3
         |),
         |own AS (SELECT gh, CAST(min(doc_id) AS BIGINT) AS owner FROM g GROUP BY gh),
         |novel AS (SELECT owner AS doc_id, CAST(count(*) AS BIGINT) AS n_novel FROM own GROUP BY owner),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id)
         |SELECT t.doc_id, t.n_grams, coalesce(nv.n_novel, CAST(0 AS BIGINT)) AS n_novel,
         |  CAST(floor(coalesce(nv.n_novel, 0) * 1000.0 / t.n_grams) AS BIGINT) AS novelty_permille
         |FROM tot t LEFT JOIN novel nv ON nv.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val g = wordGramHashes(Tables.documents(s, d))
        .persist(StorageLevel.MEMORY_AND_DISK) // owner min + per-doc count both read it
      val novel = g.groupBy("gh").agg(min("doc_id").as("owner"))
        .groupBy("owner").agg(count(lit(1)).as("n_novel"))
        .select(col("owner").as("doc_id"), col("n_novel"))
      val tot = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      tot.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          expr("cast(floor(coalesce(n_novel, 0) * 1000.0 / n_grams) as bigint)")
            .as("novelty_permille"))
        .orderBy("doc_id")
    },

    // KMV (k-minimum-values) distinct-token sketch per language, reported
    // NEXT TO the exact count it estimates — the cardinality-sketch
    // counterpart of the spec-gated streaming HLL. The estimator is the
    // classic (k-1)·D/h_k (D = 2^60, the md5_long60 domain): the k-th
    // smallest hash of a set of n uniform draws sits near k·D/n. Both
    // engines hash identically, so kth_min, the estimate, and the
    // error-permille audit column are all hash-exact.
    //
    // Scale shape: tokens shuffle once as 60-bit folds for the distinct;
    // the bottom-k never orders a whole language in one partition — a
    // hash-derived salt fans each language across $kmvSalts cells, each
    // cell keeps its own k smallest (rank ≤ k), and only salts·k
    // survivors meet the final per-language rank. The exact count is a
    // map-side-combined rollup of the same distinct frame (persisted,
    // read twice). At 100 TB the exact column drops and the sketch IS
    // the answer — k·langs rows of state, one shuffle.
    Q("tx_kmv_distinct", {
      val d = "1152921504606846976.0" // 2^60, the hash domain size
      s"""WITH tk AS (SELECT lang, unnest(regexp_extract_all(lower(text), '$tokRegex')) AS tok FROM documents),
         |di AS (SELECT DISTINCT lang, ${duckH("'kmv:' || tok")} AS h FROM tk),
         |rk AS (
         |  SELECT lang, h,
         |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |  FROM di
         |),
         |kth AS (SELECT lang, max(h) AS kth_min FROM rk WHERE rn <= $kmvK GROUP BY lang),
         |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM di GROUP BY lang),
         |est AS (
         |  SELECT k.lang, e.n_exact, k.kth_min,
         |    CAST(round(($kmvK - 1) * $d / k.kth_min, 0) AS BIGINT) AS est_distinct
         |  FROM kth k JOIN ex e ON e.lang = k.lang
         |)
         |SELECT lang, n_exact, kth_min, est_distinct,
         |  CAST(floor(abs(est_distinct - n_exact) * 1000.0 / n_exact) AS BIGINT) AS err_permille
         |FROM est ORDER BY lang""".stripMargin
    }) { (s, d) =>
      kmvDistinctDF(Tables.documents(s, d)).orderBy("lang")
    },

    // Exact-allocation stratified sampling — the mixture-construction
    // primitive tx_sample (hash-Bernoulli) can't give: each (lang, source)
    // stratum contributes EXACTLY ceil(10%) of itself, in deterministic
    // hash order. The allocation runs per (stratum, salt) cell, not per
    // stratum: each of the $stratSalts hash-derived cells samples ceil(10%)
    // of its own rows, so the per-partition sort never sees a whole
    // stratum (the tx_source_cap skew stance, adapted to fractional take —
    // a fixed per-salt cap can't express "10% of n", a per-cell ceil can).
    // Total take per stratum is within +$stratSalts of the exact ceil,
    // bias-free, and both engines compute the identical cell membership.
    Q("tx_stratified_sample", {
      val h = duckH("'strat:' || CAST(doc_id AS VARCHAR)")
      s"""WITH b AS (SELECT doc_id, lang, source, $h AS h FROM documents),
         |r AS (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (PARTITION BY lang, source, h % $stratSalts ORDER BY h, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY lang, source, h % $stratSalts) AS n_cell
         |  FROM b
         |)
         |SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS cell_rank
         |FROM r WHERE rk <= (n_cell + 9) // 10
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      stratifiedSampleDF(Tables.documents(s, d)).orderBy("doc_id")
    },
  )

  /** Hashed-linear quality model numerator shared by tx_quality_score and
    * tx_quality_curve: `(doc_id, raw, n_tokens)` with raw an exact BIGINT. */
  /** Body of `tx_budget_select` over any (doc_id, raw, n) frame — factored
    * so the planted-levels spec drives the real threshold selection. See
    * the Q comment for the level-granular contract. */
  private[llm] def budgetSelectDF(base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lv = base.select(col("doc_id"), col("n"),
      expr("cast(floor(cast(raw as double) * 1000 / greatest(n, 1)) as bigint)").as("smill"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // hist + final join
    val bud = lv.agg(expr(s"cast(sum(n) * $budgetMill div 1000 as bigint)").as("budget"))
    val hist = lv.groupBy("smill").agg(sum("n").as("toks"))
    // constant-partition window over the score-LEVEL histogram — bounded
    // by distinct score levels, never doc-sized (the documented exception)
    val cum = hist.withColumn("ctoks", sum("toks").over(
      Window.partitionBy(lit(1)).orderBy(col("smill").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val thr = cum.crossJoin(broadcast(bud)) // 1-row budget
      .agg(min(when(col("ctoks") <= col("budget"), col("smill"))).as("t"),
        max(col("budget")).as("budget"))
    lv.crossJoin(broadcast(thr)) // 1-row threshold
      .select(col("doc_id"), col("smill"), col("n").as("n_tokens"), col("budget"),
        when(col("t").isNotNull && col("smill") >= col("t"), 1).otherwise(0)
          .cast("int").as("keep"))
  }

  private def qualityAggDF(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wts = s.range(qfDim).select(col("id").cast("long").as("idx"),
      expr(s"((${sparkH("concat('qw:', cast(id as string))")} % 2001) - 1000)").as("w"))
    docs
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("token"))
      .select(col("doc_id"), expr(s"(${sparkH("concat('qf:', token)")} % $qfDim)").as("idx"))
      .groupBy("doc_id", "idx").agg(count(lit(1)).as("c"))
      .join(broadcast(wts), "idx") // constant qfDim-row model table
      .groupBy("doc_id")
      .agg(sum(col("c") * col("w")).as("raw"), sum("c").as("n_tokens"))
  }

  /** tx_kmv_distinct body over any (lang, text) frame — factored so the
    * estimator-envelope spec drives the real salted bottom-k chain. */
  private[llm] def kmvDistinctDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dom = "1152921504606846976.0D" // 2^60, the hash domain size
    val di = docs
      .select(col("lang"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("tok"))
      .select(col("lang"), expr(sparkH("concat('kmv:', tok)")).as("h"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // bottom-k + exact count both read it
    val w1 = Window.partitionBy("lang", "salt").orderBy("h")
    val w2 = Window.partitionBy("lang").orderBy("h")
    val kth = di
      .withColumn("salt", pmod(col("h"), lit(kmvSalts)))
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= kmvK)
      .withColumn("rn", row_number().over(w2)).filter(col("rn") <= kmvK)
      .groupBy("lang").agg(max("h").as("kth_min"))
    val ex = di.groupBy("lang").agg(count(lit(1)).as("n_exact"))
    kth.join(ex, "lang")
      .withColumn("est_distinct",
        expr(s"cast(round((${kmvK - 1}) * $dom / kth_min, 0) as bigint)"))
      .select(col("lang"), col("n_exact"), col("kth_min"), col("est_distinct"),
        expr("cast(floor(abs(est_distinct - n_exact) * 1000.0 / n_exact) as bigint)")
          .as("err_permille"))
  }

  /** tx_stratified_sample body over any (doc_id, lang, source) frame —
    * factored so the allocation spec drives the real per-cell chain. */
  private[llm] def stratifiedSampleDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val h = sparkH("concat('strat:', cast(doc_id as string))")
    val b = docs
      .select(col("doc_id"), col("lang"), col("source"), expr(h).as("h"),
        pmod(expr(h), lit(stratSalts)).as("salt"))
    val w = Window.partitionBy("lang", "source", "salt").orderBy(col("h"), col("doc_id"))
    b.withColumn("rk", row_number().over(w))
      .withColumn("n_cell", count(lit(1)).over(
        Window.partitionBy("lang", "source", "salt")))
      .filter(col("rk") <= expr("(n_cell + 9) div 10"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("rk").cast("long").as("cell_rank"))
  }

  /** Quantized per-token -ln(p) contribution under add-1/2 smoothing, as a
    * SQL fragment over columns `mc` (model count, null = OOV), `n`, `v`
    * (per-lang token total / vocab size), weighted by `tfExpr` occurrences.
    * Shared verbatim by the batch scorer and the streaming gate so both
    * produce bit-identical scaled-long sums. */
  private[llm] def lmContribSql(tfExpr: String): String =
    s"$tfExpr * cast(round(-ln((coalesce(mc, 0L) + 0.5D) / (n + 0.5D * v)) * 1000000D, 0) as bigint)"

  /** Per-doc term frequencies of a (doc_id, lang, text) frame — the one
    * corpus-pass postings shuffle both the model build and the batch scorer
    * share. */
  private[llm] def lmTfDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)")).as("tok"))
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("tf"))

  /** Per-language unigram model + smoothing stats trained on the non-eval
    * slice of a (doc_id, lang, text) frame: (`model`(lang, tok, c),
    * `stats`(lang, n, v)) — vocab-/lang-sized aggregates OF the tf postings,
    * never a second corpus pass. Factored so the streaming gate trains on
    * the exact batch chain. */
  private[graft] def lmModelFrames(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    lmModelFromTf(lmTfDF(docs))

  private[llm] def lmModelFromTf(tf: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val model = tf.filter(col("doc_id") % evalMod =!= 0)
      .groupBy("lang", "tok").agg(sum("tf").as("c"))
    val stats = model.groupBy("lang")
      .agg(sum("c").as("n"), count(lit(1)).as("v"))
    (model, stats)
  }

  /** Per-language tercile cutoffs from a scored frame (`lmScoreDF` output):
    * (lang, c1, c2) where nll <= c1 is head and nll <= c2 is middle — the
    * static serving table the streaming gate buckets against (null cutoff =
    * the tercile is empty at this corpus size; the gate falls through). */
  private[graft] def lmCutoffsDF(scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    scored.groupBy("lang").agg(
      max(when(col("bucket") === "head", col("nll"))).as("c1"),
      max(when(col("bucket") =!= "tail", col("nll"))).as("c2"))

  /** Body of `tx_lm_score` over any (doc_id, lang, text) frame — factored so
    * the planted-outlier spec drives the REAL train/score/bucket chain. */
  private[graft] def lmScoreDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // persist the postings and the model: tf feeds the model build AND the
    // scoring join, model feeds stats AND the scoring join — unpersisted,
    // Catalyst duplicates the subtree per consumer and the corpus would be
    // scanned+tokenized three times (the tx_repetition stance; caches are
    // released by the harness clearCache between queries)
    val tf = lmTfDF(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val model = tf.filter(col("doc_id") % evalMod =!= 0)
      .groupBy("lang", "tok").agg(sum("tf").as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = model.groupBy("lang")
      .agg(sum("c").as("n"), count(lit(1)).as("v"))
    val sc = tf
      .join(stats, "lang")
      .join(model.withColumnRenamed("c", "mc"), Seq("lang", "tok"), "left")
      .select(col("doc_id"), col("lang"), col("tf"),
        expr(lmContribSql("tf")).as("q"))
      .groupBy("doc_id", "lang")
      .agg(sum("tf").as("n_tokens"), sum("q").as("sq"))
      .withColumn("nll", expr("cast(sq as double) / (1e6 * n_tokens)"))
    val w = Window.partitionBy("lang").orderBy(col("nll"), col("doc_id"))
    sc.withColumn("rn", row_number().over(w))
      .withColumn("nl", count(lit(1)).over(Window.partitionBy("lang")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("nll"),
        expr("CASE (rn - 1) * 3 div nl WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END").as("bucket"))
  }

  /** Body of `tx_gopher_gate` over any (doc_id, text) frame — factored so
    * the planted-failure spec drives the REAL signal/verdict chain. */
  private[llm] def gopherGateDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tk = docs.select(col("doc_id"),
      expr(s"regexp_extract_all(lower(text), '$tokRegex', 0)").as("toks"))
    val base = tk.select(col("doc_id"),
      expr("cast(size(toks) as bigint)").as("n_words"),
      expr("cast(length(array_join(toks, '')) as double) / greatest(size(toks), 1)").as("mean_wlen"))
    val lc = lineSegmentsDF(docs.select("doc_id", "text"))
      .groupBy("doc_id", "line").agg(count(lit(1)).as("c"))
    val lstat = lc.groupBy("doc_id").agg(
      expr("sum(c - 1) * 1.0D / sum(c)").as("dup_line_frac"),
      expr("sum((c - 1) * length(line)) * 1.0D / greatest(sum(c * length(line)), 1)").as("dup_line_char_frac"))
    def grams(n: Int) = tk
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> array_join(slice(toks, i, $n), ' '))")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val r2 = grams(2).groupBy("doc_id")
      .agg(expr("max(c) * 1.0D / sum(c)").as("top2_frac"))
    val r3 = grams(3).groupBy("doc_id")
      .agg(expr("sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0D / sum(c)").as("dup3_frac"))
    base
      .join(lstat, Seq("doc_id"), "left")
      .join(r2, Seq("doc_id"), "left")
      .join(r3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("mean_wlen"),
        coalesce(col("dup_line_frac"), lit(0.0)).as("dup_line_frac"),
        coalesce(col("dup_line_char_frac"), lit(0.0)).as("dup_line_char_frac"),
        coalesce(col("top2_frac"), lit(0.0)).as("top2_frac"),
        coalesce(col("dup3_frac"), lit(0.0)).as("dup3_frac"))
      .select(col("*"),
        expr(s"""CAST(CASE WHEN n_words >= $gMinWords AND n_words <= $gMaxWords
          AND mean_wlen >= ${gMinWlen}D AND mean_wlen <= ${gMaxWlen}D
          AND dup_line_frac <= ${gDupLine}D AND dup_line_char_frac <= ${gDupLineChar}D
          AND top2_frac <= ${gTop2}D AND dup3_frac <= ${gDup3}D THEN 1 ELSE 0 END AS INT)""").as("keep"),
        expr(s"""coalesce(nullif(concat_ws(';',
          CASE WHEN n_words < $gMinWords OR n_words > $gMaxWords THEN 'n_words' END,
          CASE WHEN mean_wlen < ${gMinWlen}D OR mean_wlen > ${gMaxWlen}D THEN 'wlen' END,
          CASE WHEN dup_line_frac > ${gDupLine}D THEN 'dup_line' END,
          CASE WHEN dup_line_char_frac > ${gDupLineChar}D THEN 'dup_line_chars' END,
          CASE WHEN top2_frac > ${gTop2}D THEN 'top_2gram' END,
          CASE WHEN dup3_frac > ${gDup3}D THEN 'dup_3gram' END), ''), 'ok')""").as("reasons"))
  }

  /** Row-local fixed-width line segmentation of any frame with a `text`
    * column: every input column is preserved, plus (pos, line, lh). Shared
    * by the batch line dedup and the streaming scrub gate so both cut the
    * identical lines. */
  private[llm] def lineSegmentsDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("*"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(ws) / $lineWords.0D) as int) - 1), " +
          s"i -> array_join(slice(ws, i * $lineWords + 1, $lineWords), ' '))")))
      .withColumnRenamed("col", "line")
      .withColumn("lh", md5(col("line")))
      .drop("ws", "text")

  /** Corpus-df boilerplate line set (lh, is_b) from a segmented frame —
    * the static table the streaming scrub gate joins against. */
  private[llm] def boilerSetDF(segments: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    segments.select("lh", "doc_id").distinct()
      .groupBy("lh").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") >= boilerDf)
      .select(col("lh"), lit(true).as("is_b"))

  /** The per-doc rebuild aggregates (n_lines / n_removed / clean_hash) over
    * a boiler-tagged segment frame — grouping keys differ between batch
    * (doc_id) and stream (watermark window + doc_id), the aggregates must
    * not. */
  private[llm] def lineRebuildAggs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n_lines"),
    sum(when(col("is_b"), 1L).otherwise(0L)).as("n_removed"),
    md5(array_join(transform(
      array_sort(collect_list(when(!col("is_b"), struct(col("pos"), col("line"))))),
      x => x.getField("line")), " ")).as("clean_hash"))

  /** Body of `tx_line_dedup` over any (doc_id, text) frame — factored so the
    * planted-boilerplate spec drives the REAL segmentation/df/rebuild chain. */
  private[llm] def lineDedupDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ln = lineSegmentsDF(docs.select("doc_id", "text"))
    // ln has two consumers, so Catalyst segments the corpus twice — here
    // that is the RIGHT trade (measured 2.5x faster than persisting): the
    // df pass shuffles only (line_hash, doc_id) pairs and the rebuild pass
    // carries text once, while a persist would materialize corpus-sized
    // line text just to save one cheap columnar re-scan + regex pass.
    // Contrast lmScoreDF/bm25DF, whose shared frame is the DENSE postings
    // table — there the cache wins and is taken.
    val boiler = boilerSetDF(ln)
    ln.join(boiler, Seq("lh"), "left")
      .withColumn("is_b", coalesce(col("is_b"), lit(false)))
      .groupBy("doc_id")
      .agg(lineRebuildAggs.head, lineRebuildAggs.tail: _*)
      .select(col("doc_id"), col("n_lines"), col("n_removed"),
        expr("n_removed * 1.0D / n_lines").as("removed_frac"),
        col("clean_hash"))
  }

  /** `tx_hybrid_rrf` body over (documents, embeddings) frames —
    * UNORDERED, the query sorts. Lexical leg = the [[bm25DF]] chain
    * re-ranked into 1..topK; vector leg = cosine top-k with the query
    * batch broadcast over one corpus scan (codegen vector_dot, the
    * sim_topk_cosine shape); fusion = exact-integer RRF on [[rrfL]]. */
  private[llm] def hybridRrfDF(docs: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val lex = bm25DF(docs)
      .withColumn("r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("query_id", "doc_id", "r")
    val nv = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(vector_dot(v, v))"))
    val qv = nv.filter(col("vec_id") % evalMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val vec = nv.join(broadcast(qv), col("vec_id") =!= col("query_id")) // query batch — benchmark-sized
      .select(col("query_id"), col("vec_id").as("doc_id"),
        (expr("vector_dot(qv, v)") / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      .filter(col("r") <= bm25TopK)
      .select("query_id", "doc_id", "r")
    lex.withColumnRenamed("r", "lr")
      .join(vec.withColumnRenamed("r", "vr"), Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr(s"${rrfL}L div (60 + lr)"), lit(0L)) +
          coalesce(expr(s"${rrfL}L div (60 + vr)"), lit(0L))).as("rrf_scaled"),
        (when(col("lr").isNotNull, 1).otherwise(0) +
          when(col("vr").isNotNull, 1).otherwise(0)).cast("int").as("n_legs"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rrf_scaled").desc, col("doc_id"))).cast("int"))
  }

  /** Body of `tx_readability` over any documents frame (needs doc_id,
    * text; passes other columns through) — the LIX counts as codegen'd
    * regexp sizes, NULL text as empty. Shared with `tx_curriculum`. */
  private[llm] def readabilityDF(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("n_words",
        expr(s"cast(size(regexp_extract_all(lower(coalesce(text, '')), '$tokRegex', 0)) as bigint)"))
      .withColumn("n_long",
        expr("cast(size(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]{7,}', 0)) as bigint)"))
      .withColumn("n_sent",
        expr("cast(greatest(size(regexp_extract_all(coalesce(text, ''), '[.!?]+', 0)), 1) as bigint)"))
      .withColumn("lix",
        expr("case when n_words = 0 then cast(0 as double) " +
          "else (cast(n_words as double) / n_sent) " +
          "+ ((100.0D * cast(n_long as double)) / n_words) end"))
}
