package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.batch.Q
import graft.core.{StagedTable, Tables}

/** The end-to-end corpus-prep pipeline — the north-star composition: the
  * individual operators (quality gate, exact dedup, near-dup clustering,
  * chunking) chained exactly as a pre-training data-prep job would run
  * them, as ONE oracle-gated query.
  *
  * A document survives iff it (1) passes the quality gate, (2) is its
  * exact-dup group's keeper (min doc_id per content hash), and (3) is not
  * a non-keeper member of a near-dup cluster. Survivors are chunked for
  * tokenization.
  *
  * Scale shape: the quality gate and exact-dedup keeper are one pass +
  * one content-hash shuffle over the corpus; the near-dup component table
  * holds only docs in a duplicate cluster — usually far smaller than the
  * corpus, but web-scale crawls run 30–50% near-dups, so the join is left
  * UNhinted and AQE broadcasts it only when it measures small; chunking is
  * a row-local explode of the survivors.
  *
  * Two forms are gated on the same oracle SQL:
  *   - `llm_corpus_prep` — fully self-contained (recomputes clustering);
  *   - `llm_corpus_prep_staged` — the PRODUCTION shape: the verified
  *     cluster table is computed ONCE per corpus (`llm_pipeline_stage`),
  *     persisted as a doc_id-bucketed table, and every downstream consumer
  *     reads it instead of re-running shingle→minhash→LSH→verify. At
  *     100 TB the clustering pass dominates the job; staging it turns N
  *     consumers × 1 pass into 1 pass — locally the bench shows the same
  *     collapse (the staged prep skips the ~10s cluster recompute).
  */
object PipelineQueries {

  /** Compute verified near-dup clusters once and persist them bucketed by
    * doc_id (16 buckets), pre-sorted — downstream joins on doc_id read the
    * bucket files without re-exchanging the (small) cluster side, and a
    * cluster deployment gets the same via a bucketed warehouse table.
    *
    * Cross-SESSION reuse ([[graft.core.StagedTable]]): the stage directory
    * carries a `_graft_fingerprint` sidecar (clustering constants + corpus
    * content hash). A fresh process whose fingerprint matches re-registers
    * the existing bucketed files and skips the clustering pass entirely —
    * the "N consumers × 1 pass" claim across driver restarts, not just
    * within one. Any mismatch (changed constants, changed corpus) recomputes. */
  private[llm] def stageClusters(s: SparkSession, d: String): String =
    StagedTable.getOrStage(s, d, StagedTable.Stage("clusters", StagedTable.Docs,
        DedupQueries.algoFingerprint, bucketBy = Some(16 -> "doc_id"))) { write =>
      write(DedupQueries.clustersDF(s, d))
    }

  private val prepOracle =
    s"""WITH RECURSIVE ${DedupQueries.clusterCtes},
       |${TextQueries.qualityCtes},
       |exk AS (SELECT md5(text) AS h, min(doc_id) AS keeper FROM documents GROUP BY 1),
       |surv AS (
       |  SELECT doc.doc_id, doc.text
       |  FROM documents doc
       |  JOIN exk ON md5(doc.text) = exk.h AND doc.doc_id = exk.keeper
       |  JOIN qual ON qual.doc_id = doc.doc_id AND qual.keep = 1
       |  LEFT JOIN comp ON comp.doc_id = doc.doc_id
       |  WHERE comp.doc_id IS NULL OR comp.cluster_id = doc.doc_id
       |)
       |SELECT doc_id,
       |  CAST((pos - 1) // ${TextQueries.chunkStep} AS BIGINT) AS chunk_idx,
       |  md5(substring(text, CAST(pos AS INT), ${TextQueries.chunkLen})) AS chunk_hash
       |FROM surv, unnest(generate_series(1, greatest(length(text), 1), ${TextQueries.chunkStep})) AS t(pos)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** The composed prep given a (doc_id, cluster_id) component table.
    * `private[llm]` so the plan-shape regression spec can inspect the
    * analyzed plan with a stub `comp` — building the real one runs the
    * (eager, driver-controlled) clustering loop, which a plan-only test
    * must not pay for. */
  /** The doc-grain survivor set of the prep keep rule (quality gate ∧
    * exact-dup keeper ∧ near-dup keeper) with full doc columns — the
    * chunker's input and the publish stage's payload. */
  private[graft] def survivorsDF(s: SparkSession, d: String, comp: DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    val exk = docs.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("keeper"))
    val qual = TextQueries.qualityKeepDF(s, d).filter(col("keep") === 1).select("doc_id")
    docs
      .join(exk, md5(col("text")) === col("h") && col("doc_id") === col("keeper"))
      .join(qual, Seq("doc_id"), "left_semi")
      .join(comp, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  }

  private[llm] def prepDF(s: SparkSession, d: String, comp: DataFrame): DataFrame = {
    survivorsDF(s, d, comp)
      .select(col("doc_id"), col("text"))
      .withColumn("pos",
        explode(expr(s"sequence(1, greatest(length(text), 1), ${TextQueries.chunkStep})")))
      .select(col("doc_id"),
        expr(s"cast((pos - 1) div ${TextQueries.chunkStep} as bigint)").as("chunk_idx"),
        expr(s"md5(substring(text, pos, ${TextQueries.chunkLen}))").as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val sourceDupOracle =
    s"""WITH RECURSIVE ${DedupQueries.clusterCtes}
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
       |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL AND c.cluster_id <> c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL AND c.cluster_id <> c.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS drop_rate
       |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  private val softWeightsOracle =
    s"""WITH RECURSIVE ${DedupQueries.clusterCtes},
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM comp GROUP BY cluster_id)
       |SELECT d.doc_id,
       |  coalesce(sz.n, CAST(1 AS BIGINT)) AS cluster_size,
       |  CAST(1 AS DOUBLE) / coalesce(sz.n, CAST(1 AS BIGINT)) AS weight
       |FROM documents d
       |LEFT JOIN comp c ON c.doc_id = d.doc_id
       |LEFT JOIN sz ON sz.cluster_id = c.cluster_id
       |ORDER BY d.doc_id""".stripMargin

  /** Body of `dd_soft_weights`: SOFT dedup — instead of hard-dropping
    * non-keepers, every doc gets a sampling weight inversely proportional
    * to its near-dup cluster's size (singletons weigh 1), so a training
    * sampler sees each duplicated CONTENT with total mass 1 while keeping
    * every surface variant reachable — the duplicate-aware sampling stance
    * of SemDeDup/D4-style curation, where hard removal is too blunt for
    * templated-but-distinct families. weight = 1/n is an UNROUNDED double
    * quotient of exact integers (identical bits across engines). Scale
    * shape: cluster sizes aggregate over the component table (clustered
    * docs only), then two doc-sized left joins; AQE broadcasts both small
    * sides; nothing corpus-sized shuffles except the doc_id sort the
    * oracle compare requires. */
  private[llm] def softWeightsDF(docs: DataFrame, comp: DataFrame): DataFrame = {
    val sz = comp.groupBy("cluster_id").agg(count(lit(1)).as("n"))
    docs.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .join(sz, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(1L)).as("cluster_size"),
        (lit(1.0) / coalesce(col("n"), lit(1L))).as("weight"))
      .orderBy("doc_id")
  }

  /** Body of `dd_source_dup`: per-source cluster membership / keeper-loss
    * rollup given a (doc_id, cluster_id) component table. Doc-sized left
    * join (AQE broadcasts the component side), one map-side-combined
    * source aggregate. */
  private def sourceDupDF(docs: DataFrame, comp: DataFrame): DataFrame =
    docs.select("doc_id", "source")
      .join(comp, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"), 1L)
          .otherwise(0L)).as("n_dropped"))
      .withColumn("drop_rate", expr("cast(n_dropped as double) / n_docs"))
      .orderBy("source")

  val all: Seq[Q] = Seq(

    Q("llm_corpus_prep", prepOracle) { (s, d) =>
      prepDF(s, d, DedupQueries.clustersDF(s, d))
    },

    // The stage itself, oracle-gated: persist + return the cluster table.
    // NB on bench reading: since cross-session fingerprint reuse, a fresh
    // JVM whose warehouse already holds a valid stage measures the
    // validate-and-adopt path here (one pruned corpus scan + table read) —
    // the production behavior. The full clustering price stays visible in
    // the self-contained llm_corpus_prep, which recomputes by definition.
    Q("llm_cluster_stage",
      s"""WITH RECURSIVE ${DedupQueries.clusterCtes}
         |SELECT doc_id, cluster_id FROM comp ORDER BY doc_id""".stripMargin) {
      (s, d) => s.table(stageClusters(s, d)).orderBy("doc_id")
    },

    // Same oracle as llm_corpus_prep — the result must be identical; only
    // the provenance of `comp` changes (bucketed staged table vs recompute).
    Q("llm_corpus_prep_staged", prepOracle) { (s, d) =>
      prepDF(s, d, s.table(stageClusters(s, d)))
    },

    // Staged twin of dd_split (same oracle): the split consumes the staged
    // component table instead of re-running the cluster chain — the shape a
    // production pipeline runs, where clustering is one pass and split /
    // prep / audit all read the stage. Bucketed on doc_id, so the root
    // join needs no exchange on the cluster side.
    Q("dd_split_staged", DedupQueries.splitOracle) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      DedupQueries.splitFromClusters(
          graft.core.Tables.documents(s, d), s.table(stageClusters(s, d)))
        .orderBy("doc_id")
    },

    // Dedup observability — the dataset-card / crawl-health rollup every
    // production dedup pipeline publishes: per SOURCE, how many docs sit
    // in a near-dup cluster and how many would be dropped as non-keepers
    // (cluster_id = min member = keeper, the dd_clusters contract). A
    // source with an outlying drop_rate is a scraper bug or a boilerplate
    // farm — this is the query that finds it. Self-contained (recomputes
    // the chain, the honest bench price); the staged twin below is the
    // production shape. drop_rate is an UNROUNDED double quotient of
    // exact integers (int/int quotients land ON 4-dp rounding ties).
    Q("dd_source_dup", sourceDupOracle) { (s, d) =>
      sourceDupDF(Tables.documents(s, d), DedupQueries.clustersDF(s, d))
    },

    // Same oracle — only `comp`'s provenance changes (bucketed stage).
    Q("dd_source_dup_staged", sourceDupOracle) { (s, d) =>
      sourceDupDF(Tables.documents(s, d), s.table(stageClusters(s, d)))
    },

    // Soft dedup: per-doc sampling weights (1/cluster_size) instead of a
    // hard keep/drop. Self-contained (recomputes the chain, the honest
    // bench price); the staged twin is the production shape.
    Q("dd_soft_weights", softWeightsOracle) { (s, d) =>
      softWeightsDF(Tables.documents(s, d), DedupQueries.clustersDF(s, d))
    },

    // Same oracle — comp served from the bucketed fingerprinted stage.
    Q("dd_soft_weights_staged", softWeightsOracle) { (s, d) =>
      softWeightsDF(Tables.documents(s, d), s.table(stageClusters(s, d)))
    },

    // Canonical selection served from the stage (dd_best_of_cluster's
    // production shape, the dd_split_staged argument): the argmax rides
    // the bucketed fingerprinted component table instead of recomputing
    // the shingle→LSH→verify→components chain. Same oracle — results
    // identical by construction.
    Q("dd_best_of_cluster_staged", DedupQueries.bestOfClusterOracle) { (s, d) =>
      DedupQueries.bestOfClusterDF(s.table(stageClusters(s, d)),
          Tables.documents(s, d).select("doc_id", "n_chars"))
        .orderBy("cluster_id")
    },

    // The corpus-UPDATE prep — the daily-crawl path that completes the
    // family (full / staged / streaming / incremental): incoming docs
    // (doc_id % 3 <> 0, the dd_incremental slice) are quality-gated,
    // deduped AGAINST THE EXISTING corpus (content-hash semi join + the
    // asymmetric banded simhash join — incoming never self-joins), exact-
    // deduped WITHIN the crawl (min-doc_id keeper), then chunked. Within-
    // crawl NEAR-dups are the streaming guard's job (L28, signature
    // equality on ingest) — full clustering of the merged corpus stays the
    // staged batch pass. Scale shape: every join is the already-audited
    // dd_incremental / prep shape; nothing new shuffles.
    Q("llm_corpus_prep_incr",
      s"""WITH ${DedupQueries.incrementalCtes},
         |${TextQueries.qualityCtes},
         |exk AS (
         |  SELECT md5(text) AS h, min(doc_id) AS keeper
         |  FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1
         |),
         |surv AS (
         |  SELECT doc.doc_id, doc.text
         |  FROM documents doc
         |  JOIN incr ON incr.doc_id = doc.doc_id AND incr.keep = 1
         |  JOIN qual ON qual.doc_id = doc.doc_id AND qual.keep = 1
         |  JOIN exk ON md5(doc.text) = exk.h AND doc.doc_id = exk.keeper
         |)
         |SELECT doc_id,
         |  CAST((pos - 1) // ${TextQueries.chunkStep} AS BIGINT) AS chunk_idx,
         |  md5(substring(text, CAST(pos AS INT), ${TextQueries.chunkLen})) AS chunk_hash
         |FROM surv, unnest(generate_series(1, greatest(length(text), 1), ${TextQueries.chunkStep})) AS t(pos)
         |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val incoming = docs.filter(col("doc_id") % 3 =!= 0)
      val keep = DedupQueries.incrementalKeepDF(s, d)
        .filter(col("keep") === 1).select("doc_id")
      val qual = TextQueries.qualityKeepDF(s, d)
        .filter(col("keep") === 1).select("doc_id")
      val exk = incoming.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("keeper"))
      incoming
        .join(exk, md5(col("text")) === col("h") && col("doc_id") === col("keeper"))
        .join(keep, Seq("doc_id"), "left_semi")
        .join(qual, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))
        .withColumn("pos",
          explode(expr(s"sequence(1, greatest(length(text), 1), ${TextQueries.chunkStep})")))
        .select(col("doc_id"),
          expr(s"cast((pos - 1) div ${TextQueries.chunkStep} as bigint)").as("chunk_idx"),
          expr(s"md5(substring(text, pos, ${TextQueries.chunkLen}))").as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Dataset card — the per-source summary report a corpus RELEASE ships
    // with (and the first thing a consumer reads): doc and token volumes,
    // language spread with the dominant language, exact-duplicate exposure,
    // and quality-gate pass counts, one row per source. Composes the
    // existing signal chains (tokenize, content hash, the shared
    // `qualityCtes` gate) rather than re-specifying them, so the card can
    // never drift from the operators it summarizes.
    //
    // Scale shape: ONE corpus scan produces the narrow per-doc frame
    // (source, lang, token count, md5) with the quality gate riding the
    // same projection pass; the dup table is a content-hash groupBy
    // (hash-partitioned, map-side combined) joined back on the hash; all
    // remaining aggregates are source- or (source, lang)-sized. Rates are
    // unrounded exact-integer quotients (one double division on identical
    // longs — bit-identical across engines, the dd_source_dup stance).
    Q("llm_dataset_card",
      s"""WITH ${TextQueries.qualityCtes},
         |tok AS (
         |  SELECT doc_id, source, lang,
         |    CAST(len(regexp_extract_all(lower(text), '${TextQueries.tokRegex}')) AS BIGINT) AS n_tok,
         |    md5(text) AS h
         |  FROM documents
         |),
         |dup AS (SELECT h FROM tok GROUP BY h HAVING count(*) >= 2),
         |lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
         |top AS (
         |  SELECT source, lang AS top_lang FROM lc
         |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) = 1
         |),
         |card AS (
         |  SELECT t.source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT t.lang) AS BIGINT) AS n_langs,
         |    CAST(sum(coalesce(t.n_tok, 0)) AS BIGINT) AS total_tokens,
         |    CAST(count(d.h) AS BIGINT) AS exact_dup_docs,
         |    CAST(sum(q.keep) AS BIGINT) AS quality_pass_docs
         |  FROM tok t
         |  LEFT JOIN dup d ON d.h = t.h
         |  JOIN qual q ON q.doc_id = t.doc_id
         |  GROUP BY t.source
         |)
         |SELECT c.source, n_docs, n_langs, top.top_lang, total_tokens,
         |  CAST(total_tokens AS DOUBLE) / n_docs AS avg_doc_tokens,
         |  exact_dup_docs, quality_pass_docs,
         |  CAST(quality_pass_docs AS DOUBLE) / n_docs AS quality_pass_rate
         |FROM card c JOIN top ON top.source = c.source
         |ORDER BY c.source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          expr(s"cast(size(regexp_extract_all(lower(text), '${TextQueries.tokRegex}', 0)) as bigint)")
            .as("n_tok"),
          md5(col("text")).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // dup agg + lang counts + card agg
      val dup = tok.groupBy("h").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("h"), lit(1).as("isdup"))
      val top = tok.groupBy("source", "lang").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("c").desc, col("lang"))))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      val card = tok
        .join(dup, Seq("h"), "left") // hash-partitioned; null hashes never match (both engines)
        .join(TextQueries.qualityKeepDF(s, d), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"),
          sum(coalesce(col("n_tok"), lit(0L))).as("total_tokens"),
          count(col("isdup")).as("exact_dup_docs"),
          sum("keep").as("quality_pass_docs"))
      card.join(top, "source") // source-sized both sides
        .select(col("source"), col("n_docs"), col("n_langs"), col("top_lang"),
          col("total_tokens"),
          expr("cast(total_tokens as double) / n_docs").as("avg_doc_tokens"),
          col("exact_dup_docs"), col("quality_pass_docs"),
          expr("cast(quality_pass_docs as double) / n_docs").as("quality_pass_rate"))
        .orderBy("source")
    },
  )
}
