package graft.suites

import graft.{Q, Tables}
import graft.ops.{Assembly, Bpe, Dedup, Multimodal, Packing, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text pipeline surface: exact + near dedup, quality
  * scoring, language ID, fingerprinting, multimodal binary plumbing.
  * Every operator — including MinHash-LSH and SimHash banding — carries a
  * full DuckDB oracle: the signatures use the engine-portable polynomial
  * hash family (folds mod 1e9+7), so the oracle SQL replays the exact
  * candidate generation and scoring with list lambdas.
  */
object TextSuite {

  /** Shared oracle-SQL fragment: per-token polynomial hashes `th` and
    * distinct hashed 3-gram shingles `grams` (mirrors
    * TextAnalysis.tokenHashes / hashedNgrams). */
  private val thCte =
    """th AS (SELECT doc_id, list_transform(string_split(text, ' '), t ->
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(t, ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM documents)""".stripMargin

  private val gramsCte =
    """g AS (SELECT doc_id,
      |    list_distinct(list_filter(
      |      list_transform(th, (x, i) ->
      |        CASE WHEN i + 2 <= len(th)
      |             THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
      |                  % 1000000007 END),
      |      z -> z IS NOT NULL)) AS grams
      |  FROM th)""".stripMargin

  lazy val all: Seq[Q] = Seq(
    Q("q30_dedup_exact", q30, Some(q30Sql)),
    Q("q31_text_quality", q31, Some(q31Sql)),
    Q("q32_token_stats_by_lang", q32, Some(q32Sql)),
    Q("q33_langid_predict", q33, Some(q33Sql)),
    Q("q34_fingerprint", q34, Some(q34Sql)),
    Q("q35_ngram_jaccard_pairs", q35, Some(q35Sql)),
    Q("q36_minhash_candidates", q36, Some(q36Sql)),
    Q("q38_simhash_candidates", q38, Some(q38Sql)),
    Q("q40_multimodal_features", q40, Some(q40Sql)),
    Q("q41_binary_meta", q41, Some(q41Sql)),
    Q("q47_regex_tokens", q47, Some(q47Sql)),
    Q("q49_hash_split", q49, Some(q49Sql)),
    Q("q50_stratified_sample", q50, Some(q50Sql)),
    Q("q53_dedup_clusters", q53, Some(q53Sql)),
    Q("q54_repetition_filter", q54, Some(q54Sql)),
    Q("q58_sequence_packing", q58, Some(q58Sql)),
    Q("q60_quality_gate", q60, Some(q60Sql)),
    Q("q68_sharded_packing", q68, Some(q68Sql)),
    Q("q69_image_decode_stats", q69, Some(q69Sql)),
    Q("q72_canonical_corpus", q72, Some(q72Sql)),
    Q("q73_decontaminate", q73, Some(q73Sql)),
    Q("q80_pii_scrub", q80, Some(q80Sql)),
    Q("q81_heavy_hitters", q81, Some(q81Sql)),
    Q("q84_collapsed_neardup", q84, Some(q84Sql)),
    Q("q87_audio_decode_stats", q87, Some(q87Sql)),
    Q("q89_video_decode_stats", q89, Some(q89Sql)),
    Q("q90_incremental_neardup", q90, Some(q90Sql)),
    Q("q91_boilerplate_scrub", q91, Some(q91Sql)),
    Q("q92_chunk_by_tokens", q92, Some(q92Sql)),
    Q("q93_tfidf_top_terms", q93, Some(q93Sql)),
    Q("q94_mixture_resample", q94, Some(q94Sql)),
    Q("q97_sparse_cosine_pairs", q97, Some(q97Sql)),
    Q("q102_bigram_coverage", q102, Some(q102Sql)),
    Q("q111_source_cap", q111, Some(q111Sql)),
    Q("q116_curation_pipeline", q116, Some(q116Sql)),
    Q("q119_shared_spans", q119, Some(q119Sql)),
    Q("q123_cms_counts", q123, Some(q123Sql)),
    Q("q129_video_frame_sample", q129, Some(q129Sql)),
    Q("q130_bloom_decontaminate", q130, Some(q130Sql)),
    Q("q132_bpe_merges", q132, None, Some(q132Oracle)),
    Q("q133_token_budget_select", q133, Some(q133Sql)),
    Q("q134_image_resize_stats", q134, Some(q134Sql)),
    Q("q135_bpe_tokenize", q135, None, Some(q135Oracle)),
    Q("q136_snapshot_diff", q136, Some(q136Sql)),
    Q("q141_pps_sample", q141, Some(q141Sql)),
    Q("q145_bpe_merges_batched", q145, None, Some(q145Oracle)),
    Q("q142_bigram_lm_score", q142, Some(q142Sql)),
    Q("q143_nfc_normalize", q143, Some(q143Sql)),
    Q("q153_dedup_index_query", q153, Some(dedupIndexSql)),
    Q("q154_dedup_index_ingest", q154, Some(dedupIndexSql)),
    Q("q165_dedup_index_delete", q165, Some(dedupIndexDeleteSql)),
    Q("q155_remove_repeated_spans", q155, Some(q155Sql)),
    Q("q157_deterministic_shuffle", q157, Some(q157Sql)),
    Q("q158_leakage_safe_split", q158, Some(q158Sql)),
    Q("q159_token_budget_shards", q159, Some(q159Sql)),
    Q("q160_epoch_plan", q160, Some(q160Sql)),
    Q("q161_epoch_expand", q161, Some(q161Sql)),
    Q("q162_shard_append", q162, Some(q162Sql)),
    Q("q163_training_order", q163, Some(q163Sql)),
    Q("q164_validate_shards", q164, Some(q164Sql)),
    Q("q167_takedown_compliance", q167, None, Some(q167Oracle)),
    Q("q168_dedup_index_validate", q168, Some(q168Sql)),
    Q("q169_takedown_all_stores", q169, None, Some(q169Oracle)),
    Q("q171_registry_drift_audit", q171, Some(q171Sql))
  )

  // ---- disk-backed MinHash dedup index (graft.ops.DedupIndex) ----------

  /** Bounded driver collect for the audit queries' serving snapshots
    * (q167/q169) — the cosinePairs maxRows precedent
    * (Similarity.scala): the audits compare full result SETS on the
    * driver, which is only sane while the serving probe stays
    * probe-sized. A mis-sized probe now fails LOUDLY here instead of
    * melting the driver; the bound is explicit, not implicit in "k x
    * queries happens to be small". */
  private def auditSet(df: DataFrame, what: String,
      maxRows: Long = 2000000L): Set[Seq[Any]] = {
    val rows = df.limit(math.min(maxRows + 1, Int.MaxValue).toInt).collect()
    require(rows.length <= maxRows,
      s"$what audit snapshot exceeds $maxRows rows — a driver-side set " +
        "compare needs a probe-sized serving read; shrink the probe or " +
        "raise the bound deliberately")
    rows.map(_.toSeq).toSet
  }

  /** The q90 nightly-batch construction: re-crawls (exact text under new
    * ids), 20%-trimmed revisions, and genuinely fresh case-flipped docs. */
  private def nightlyBatch(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val recrawl = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 20000L).as("doc_id"), col("text"))
    val trimmed = base.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 30000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          expr("size(split(text, ' ')) - size(split(text, ' ')) div 5")),
          " ").as("text"))
    val fresh = base.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 40000L).as("doc_id"),
        upper(col("text")).as("text"))
    recrawl.unionByName(trimmed).unionByName(fresh)
  }

  private val queryIndexDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val ingestIndexDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Disk-backed MinHash-LSH index, read-only query
    * ([[graft.ops.DedupIndex.queryPairs]]): the whole corpus is indexed
    * once (signatures + band postings persisted, text never read again),
    * then the nightly batch is scored against the stored postings. The
    * oracle replays signatures, banding, the corpus-side stop-bucket
    * guard, and the agreement scoring from the raw tables. */
  private def q153(s: SparkSession, d: String): DataFrame = {
    val dir = queryIndexDirs.getOrElseUpdate(d, {
      val out = java.nio.file.Files.createTempDirectory("dedupidx_q").toString
      graft.ops.DedupIndex.write(s, Tables.documents(s, d), out)
      out
    })
    graft.ops.DedupIndex.queryPairs(s, dir, nightlyBatch(s, d))
      .orderBy(col("batch_doc"), col("index_doc"))
  }

  /** Multi-batch accumulation ([[graft.ops.DedupIndex.ingest]]): the
    * index starts from the even half, ingests the odd half as batch 1,
    * then ingests the nightly batch as batch 2 — whose pairs must hit
    * documents from BOTH the initial write and batch 1 (the committed
    * index at that point is the full corpus, so the oracle is q153's).
    * The verify path re-runs the batch-2 ingest each call: with an
    * explicit batch id the replay excludes the batch's own committed
    * rows and returns the original pairs — the idempotence contract. */
  private def q154(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = ingestIndexDirs.getOrElseUpdate(d, {
      val out = java.nio.file.Files.createTempDirectory("dedupidx_i").toString
      graft.ops.DedupIndex.write(s, docs.filter(col("doc_id") % 2 === 0), out)
      graft.ops.DedupIndex.ingest(s, out, docs.filter(col("doc_id") % 2 === 1),
        batchId = 1L)
      out
    })
    graft.ops.DedupIndex.ingest(s, dir, nightlyBatch(s, d), batchId = 2L)
      .orderBy(col("batch_doc"), col("index_doc"))
  }

  private val deleteIndexDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Takedown lifecycle ([[graft.ops.DedupIndex.delete]]): the whole
    * corpus is indexed once, then every doc_id % 7 == 3 is tombstoned;
    * the nightly batch scores against the MASKED index — a tombstoned
    * doc neither pairs nor counts toward any bucket's stop-bucket size,
    * exactly as if it had never been indexed. The oracle replays the
    * full q153 pipeline with the tombstoned docs filtered out of the
    * corpus side before banding, sizing, and scoring. */
  private def q165(s: SparkSession, d: String): DataFrame = {
    val dir = deleteIndexDirs.getOrElseUpdate(d, {
      val out = java.nio.file.Files.createTempDirectory("dedupidx_d").toString
      graft.ops.DedupIndex.write(s, Tables.documents(s, d), out)
      graft.ops.DedupIndex.delete(s, out,
        Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
          .select(col("doc_id")), batchId = 0L)
      out
    })
    graft.ops.DedupIndex.queryPairs(s, dir, nightlyBatch(s, d))
      .orderBy(col("batch_doc"), col("index_doc"))
  }

  /** One oracle for the index queries: by the time the nightly batch is
    * scored, the committed index holds the full documents table (q153
    * and q154), or the full table minus the tombstoned docs (q165 —
    * `corpusWhere` filters the corpus side BEFORE banding, stop-bucket
    * sizing, and scoring, replaying the mask-before-everything
    * contract). Replays per-side signatures, banding, the CORPUS-side
    * bucket-size cap, candidate generation, and agreement scoring. */
  private val dedupIndexSql = dedupIndexSqlWhere("TRUE")
  private val dedupIndexDeleteSql = dedupIndexSqlWhere("doc_id % 7 <> 3")
  private def dedupIndexSqlWhere(corpusWhere: String): String =
    s"""WITH batch AS (
       |  SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 30000,
       |    array_to_string(list_slice(string_split(text, ' '), 1,
       |      len(string_split(text, ' ')) - len(string_split(text, ' ')) // 5), ' ')
       |  FROM documents WHERE doc_id % 10 = 5
       |  UNION ALL
       |  SELECT doc_id + 40000, upper(text) FROM documents WHERE doc_id % 10 = 7),
       |bth AS (SELECT doc_id, list_transform(string_split(text, ' '), t ->
       |    list_reduce(list_prepend(CAST(7 AS BIGINT),
       |      list_transform(string_split(t, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
       |  FROM batch),
       |cth AS (SELECT doc_id, list_transform(string_split(text, ' '), t ->
       |    list_reduce(list_prepend(CAST(7 AS BIGINT),
       |      list_transform(string_split(t, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
       |  FROM documents WHERE $corpusWhere),
       |bg AS (SELECT doc_id,
       |    list_distinct(list_filter(
       |      list_transform(th, (x, i) ->
       |        CASE WHEN i + 2 <= len(th)
       |             THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
       |                  % 1000000007 END),
       |      z -> z IS NOT NULL)) AS grams
       |  FROM bth),
       |cg AS (SELECT doc_id,
       |    list_distinct(list_filter(
       |      list_transform(th, (x, i) ->
       |        CASE WHEN i + 2 <= len(th)
       |             THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
       |                  % 1000000007 END),
       |      z -> z IS NOT NULL)) AS grams
       |  FROM cth),
       |bsig AS (SELECT doc_id, list_transform(range(0, 64), s ->
       |    list_min(list_transform(grams, x ->
       |      (($coefA)[s+1] * x + ($coefB)[s+1]) % 1000000007))) AS sig
       |  FROM bg WHERE len(grams) > 0),
       |csig AS (SELECT doc_id, list_transform(range(0, 64), s ->
       |    list_min(list_transform(grams, x ->
       |      (($coefA)[s+1] * x + ($coefB)[s+1]) % 1000000007))) AS sig
       |  FROM cg WHERE len(grams) > 0),
       |bband AS (SELECT doc_id, b.range AS band,
       |    list_reduce(list_prepend(CAST(7 AS BIGINT),
       |        sig[b.range*4+1 : b.range*4+4]),
       |      (a, v) -> (a * 131 + v) % 1000000007) AS bucket
       |  FROM bsig, range(0, 16) b),
       |cband AS (SELECT doc_id, band, bucket FROM (
       |    SELECT doc_id, b.range AS band,
       |      list_reduce(list_prepend(CAST(7 AS BIGINT),
       |          sig[b.range*4+1 : b.range*4+4]),
       |        (a, v) -> (a * 131 + v) % 1000000007) AS bucket,
       |      count(*) OVER (PARTITION BY b.range,
       |        list_reduce(list_prepend(CAST(7 AS BIGINT),
       |            sig[b.range*4+1 : b.range*4+4]),
       |          (a, v) -> (a * 131 + v) % 1000000007)) AS psz
       |    FROM csig, range(0, 16) b) WHERE psz <= 50),
       |pairs AS (SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS index_doc
       |  FROM bband b JOIN cband c
       |    ON b.band = c.band AND b.bucket = c.bucket)
       |SELECT batch_doc, index_doc, est_jaccard FROM (
       |  SELECT batch_doc, index_doc,
       |    CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 64
       |      AS est_jaccard
       |  FROM pairs
       |  JOIN bsig sa ON sa.doc_id = batch_doc
       |  JOIN csig sb ON sb.doc_id = index_doc)
       |WHERE est_jaccard >= 0.5 ORDER BY batch_doc, index_doc""".stripMargin

  /** Store QA sweep ([[graft.ops.DedupIndex.validate]]) — the
    * [[graft.ops.Assembly.validateShards]] discipline for the dedup
    * index: every serving component is recomputed definitionally from
    * the corpus table under the frozen signature family — a row COUNT
    * and an xor-of-row-hashes CONTENT checksum each — and compared to
    * the stored layout, mismatches as error-as-data rows. The oracle
    * replays the full expectation — signatures, band buckets, and both
    * fold-hash checksums — and pins stored == expected with ok = true:
    * a store that lost a batch, duplicated an ingest, leaked a fold,
    * OR drifted content under an intact count (a corrupted sig value,
    * a swapped bucket) breaks the hash. Shares q153's cached index. */
  private def q168(s: SparkSession, d: String): DataFrame = {
    val dir = queryIndexDirs.getOrElseUpdate(d, {
      val out = java.nio.file.Files.createTempDirectory("dedupidx_q").toString
      graft.ops.DedupIndex.write(s, Tables.documents(s, d), out)
      out
    })
    graft.ops.DedupIndex.validate(s, dir, Tables.documents(s, d))
  }

  private def q168Sql =
    s"""WITH cth AS (SELECT doc_id,
      |    list_transform(string_split(text, ' '), t ->
      |      list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        list_transform(string_split(t, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM documents),
      |cg AS (SELECT doc_id,
      |    list_distinct(list_filter(
      |      list_transform(th, (x, i) ->
      |        CASE WHEN i + 2 <= len(th)
      |             THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
      |                  % 1000000007 END),
      |      z -> z IS NOT NULL)) AS grams
      |  FROM cth),
      |csig AS (SELECT doc_id, list_transform(range(0, 64), s ->
      |    list_min(list_transform(grams, x ->
      |      (($coefA)[s+1] * x + ($coefB)[s+1]) % 1000000007))) AS sig
      |  FROM cg WHERE len(grams) > 0),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nsig FROM csig),
      |schk AS (SELECT bit_xor(list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_prepend(doc_id, sig)),
      |    (a, v) -> (a * 131 + v) % 1000000007)) AS c FROM csig),
      |cband AS (SELECT doc_id, b.range AS band,
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        sig[b.range*4+1 : b.range*4+4]),
      |      (a, v) -> (a * 131 + v) % 1000000007) AS bucket
      |  FROM csig, range(0, 16) b),
      |pchk AS (SELECT bit_xor(((7 * 131 + doc_id) % 1000000007 * 131
      |      + (band * 1000000007 + bucket)) % 1000000007) AS c
      |  FROM cband)
      |SELECT component, stored, expected, ok FROM (
      |  SELECT 'postings' AS component, nsig * 16 AS stored,
      |         nsig * 16 AS expected, TRUE AS ok FROM n
      |  UNION ALL
      |  SELECT 'postings_checksum', c, c, TRUE FROM pchk
      |  UNION ALL
      |  SELECT 'signatures', nsig, nsig, TRUE FROM n
      |  UNION ALL
      |  SELECT 'signatures_checksum', c, c, TRUE FROM schk
      |) ORDER BY component""".stripMargin

  // ---- end-to-end takedown compliance (both retrieval stores) ----------

  private val complianceDirs =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** The auditor's composition, end to end across BOTH disk-backed
    * retrieval layers: ingest the corpus into the dedup index AND the
    * vector store, take down a document set in each
    * ([[graft.ops.DedupIndex.delete]] / [[graft.ops.VectorStore.delete]]),
    * serve MASKED, reclaim physically ([[graft.ops.DedupIndex.compact]] /
    * [[graft.ops.VectorStore.compact]]), and prove nothing resurfaces:
    * the build asserts masked serving == post-reclaim serving in both
    * stores and that no taken-down id appears, then the query returns
    * the post-reclaim serving of both layers as one audit table. Each
    * half is oracled on its own (q165, q150); THIS query pins the
    * composition — the oracle replays the dedup half corpus-filtered
    * before banding/sizing/scoring and the vector half with tombstoned
    * ids dropped from the candidate universe. */
  private def q167(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    def dedupServe(di: String): DataFrame =
      graft.ops.DedupIndex.queryPairs(s, di, nightlyBatch(s, d))
    def vecServe(vd: String): DataFrame = {
      val qv = emb.filter(col("vec_id") === 0L)
        .select(col("embedding")).as[Array[Float]].head()
      graft.ops.VectorStore.queryTopK(s, vd, qv, k = 10, nprobe = 2,
        excludeVecId = Some(0L))
    }
    val (di, vd) = complianceDirs.getOrElseUpdate(d, {
      val di0 = java.nio.file.Files
        .createTempDirectory("takedown_didx").toString
      graft.ops.DedupIndex.write(s, docs, di0)
      graft.ops.DedupIndex.delete(s, di0,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
        batchId = 0L)
      val vd0 = java.nio.file.Files
        .createTempDirectory("takedown_vstore").toString
      graft.ops.VectorStore.write(s, emb, vd0)
      graft.ops.VectorStore.delete(s, vd0,
        emb.filter(col("vec_id") % 10 === 3).select(col("vec_id")))
      // masked serving, audited BEFORE the physical reclaim
      val dPre = auditSet(dedupServe(di0), "dedup-index serving")
      val vPre = auditSet(vecServe(vd0), "vector-store serving")
      graft.ops.DedupIndex.compact(s, di0)
      graft.ops.VectorStore.compact(s, vd0)
      val dPost = auditSet(dedupServe(di0), "dedup-index serving")
      val vPost = auditSet(vecServe(vd0), "vector-store serving")
      require(dPost == dPre,
        "takedown audit: dedup-index serving changed across the reclaim")
      require(vPost == vPre,
        "takedown audit: vector-store serving changed across the reclaim")
      require(dPost.forall(r => r(1).asInstanceOf[Long] % 7 != 3),
        "takedown audit: a taken-down doc_id resurfaced in dedup pairs")
      require(vPost.forall(r => r.head.asInstanceOf[Long] % 10 != 3),
        "takedown audit: a taken-down vec_id resurfaced in the top-k")
      (di0, vd0)
    })
    dedupServe(di).select(
        lit("dedup_index").as("store"), col("batch_doc").as("probe_id"),
        col("index_doc").as("hit_id"), col("est_jaccard").as("score"))
      .unionByName(vecServe(vd).select(
        lit("vector_store").as("store"), lit(0L).as("probe_id"),
        col("vec_id").as("hit_id"), col("approx_d2").as("score")))
      .orderBy(col("store"), col("probe_id"), col("hit_id"))
  }

  /** Both halves' definitional replays, unioned: the dedup side is the
    * q165 oracle (corpus filtered BEFORE banding, stop-bucket sizing and
    * scoring), the vector side is the q150 replay (tombstoned ids
    * dropped from the candidate universe) — compact is result-invisible
    * in both stores, so the post-reclaim serving must pin to the same
    * values. */
  private def q167Oracle(s: SparkSession, d: String): String =
    s"""SELECT store, probe_id, hit_id, score FROM (
       |  SELECT 'dedup_index' AS store, batch_doc AS probe_id,
       |         index_doc AS hit_id, est_jaccard AS score
       |  FROM ($dedupIndexDeleteSql)
       |  UNION ALL
       |  SELECT 'vector_store', CAST(0 AS BIGINT), vec_id, approx_d2
       |  FROM (${VectorSuite.q150Oracle(s, d)})
       |) ORDER BY store, probe_id, hit_id""".stripMargin

  // ---- q169: the takedown, end to end across ALL THREE stores ----------

  private val allStoreDirs =
    scala.collection.concurrent.TrieMap.empty[String, (String, String, String)]

  /** The full compliance composition — q167 plus the store q167 stops
    * short of: ONE [[graft.ops.Takedown.execute]] call takes the
    * `doc_id % 7 == 3` set down across the dedup index (tombstone +
    * standing registration), the vector store (same), and the
    * TRAINING-SHARD export ([[graft.ops.Assembly.purgeDocs]] — the
    * affected committed shards physically rewritten, the next manifest
    * version committed). The build then proves the full story: masked
    * serving == post-reclaim serving in both retrieval stores, a
    * RE-DELIVERY of the taken-down docs through ingest verbs that
    * "forgot" the takedown argument is blocked by the persisted
    * registry alone, the purged text is gone from the shard files, and
    * validateShards stays green on the new manifest version. The query
    * returns all three stores' serving as one audit table; the oracle
    * replays each store definitionally — the q165 corpus-filtered dedup
    * replay, the q150-family ADC replay with `% 7 == 3` dropped, and
    * the shard-cut replay with the purged ids filtered (surviving docs
    * KEEP their original shard assignment — purge rewrites files, it
    * never re-shards). */
  private def q169(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    def dedupServe(di: String): DataFrame =
      graft.ops.DedupIndex.queryPairs(s, di, nightlyBatch(s, d))
    def vecServe(vd: String): DataFrame = {
      val qv = emb.filter(col("vec_id") === 0L)
        .select(col("embedding")).as[Array[Float]].head()
      graft.ops.VectorStore.queryTopK(s, vd, qv, k = 10, nprobe = 2,
        excludeVecId = Some(0L))
    }
    val (di, vd, sh) = allStoreDirs.getOrElseUpdate(d, {
      val tokDocs = docs.withColumn("tok",
        size(split(col("text"), " ")).cast("long"))
      val takedown = docs.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"))
      val di0 = java.nio.file.Files
        .createTempDirectory("takedown3_didx").toString
      graft.ops.DedupIndex.write(s, docs, di0)
      val vd0 = java.nio.file.Files
        .createTempDirectory("takedown3_vstore").toString
      graft.ops.VectorStore.write(s, emb, vd0)
      val sh0 = java.nio.file.Files
        .createTempDirectory("takedown3_shards").toString
      graft.ops.Assembly.writeShards(tokDocs, "doc_id", "tok",
        budget = 2000L, seed = 42L, outDir = sh0)
      // ONE call issues the takedown everywhere: tombstones, standing
      // registrations, and the physical shard purge
      val audit = graft.ops.Takedown.execute(s, takedown, "doc_id",
        dedupIndexDir = Some(di0), vectorStoreDir = Some(vd0),
        shardStore = Some(graft.ops.Takedown.ShardStore(sh0, "doc_id",
          "tok")))
      require(audit.count() == 6L,
        "takedown audit: expected 6 actions across the three stores " +
          "(tombstone + registration at the dedup index; tombstone + " +
          "registration at the vector store; purge + registration at " +
          "the shard store)")
      // masked serving, audited BEFORE the physical reclaim
      val dPre = auditSet(dedupServe(di0), "dedup-index serving")
      val vPre = auditSet(vecServe(vd0), "vector-store serving")
      graft.ops.DedupIndex.compact(s, di0)
      graft.ops.VectorStore.compact(s, vd0)
      require(auditSet(dedupServe(di0), "dedup-index serving") == dPre,
        "takedown audit: dedup serving changed across the reclaim")
      require(auditSet(vecServe(vd0), "vector-store serving") == vPre,
        "takedown audit: vector serving changed across the reclaim")
      // the compliance gap the registry closes: RE-DELIVER the taken-
      // down docs through ingest verbs with NO takedown argument — the
      // persisted registration alone must block them
      graft.ops.DedupIndex.append(s, di0,
        docs.filter(col("doc_id") % 7 === 3), batchId = 50L)
      graft.ops.VectorStore.append(s, vd0,
        emb.filter(col("vec_id") % 7 === 3), batchId = Some(50L))
      require(auditSet(dedupServe(di0), "dedup-index serving") == dPre,
        "takedown audit: a re-delivered doc got past the registry")
      require(auditSet(vecServe(vd0), "vector-store serving") == vPre,
        "takedown audit: a re-delivered vector got past the registry")
      // the exported training data itself forgot, and still validates
      require(s.read.parquet(s"$sh0/shards")
        .filter(col("doc_id") % 7 === 3).isEmpty,
        "takedown audit: purged text still present in a shard file")
      require(graft.ops.Assembly.validateShards(s, sh0, "doc_id", "tok")
        .filter(!col("ok")).isEmpty,
        "takedown audit: post-purge store fails its own QA sweep")
      // and the shard store's OWN ingest path is registry-guarded too:
      // an exactly-once append re-delivering only purged docs must
      // classify as empty — no version churn, nothing re-exported
      val mPre = auditSet(graft.ops.Assembly.readManifest(s, sh0),
        "shard manifest")
      graft.ops.Assembly.appendShardsExactlyOnce(
        tokDocs.filter(col("doc_id") % 7 === 3), "doc_id", "tok", sh0)
      require(auditSet(graft.ops.Assembly.readManifest(s, sh0),
        "shard manifest") == mPre,
        "takedown audit: a re-delivered purged doc re-entered the " +
          "training shards")
      require(s.read.parquet(s"$sh0/shards")
        .filter(col("doc_id") % 7 === 3).isEmpty,
        "takedown audit: re-delivered purged text landed in a shard")
      (di0, vd0, sh0)
    })
    dedupServe(di).select(
        lit("dedup_index").as("store"), col("batch_doc").as("probe_id"),
        col("index_doc").as("hit_id"), col("est_jaccard").as("score"))
      .unionByName(vecServe(vd).select(
        lit("vector_store").as("store"), lit(0L).as("probe_id"),
        col("vec_id").as("hit_id"), col("approx_d2").as("score")))
      .unionByName(graft.ops.Assembly.readManifest(s, sh).select(
        lit("training_shards").as("store"),
        col("shard_id").as("probe_id"), col("checksum").as("hit_id"),
        col("n_tokens").cast("double").as("score")))
      .orderBy(col("store"), col("probe_id"), col("hit_id"))
  }

  /** All three stores' definitional replays, unioned: the q165 dedup
    * replay, the parameterized q150 vector replay with `% 7 == 3`
    * dropped, and the q159 shard-cut replay with the purged ids
    * filtered AFTER the cut (the purge rewrites files in place; the
    * survivors keep their original shard ids, and a fully-purged shard
    * vanishes from the manifest exactly as the empty group vanishes
    * from the GROUP BY). */
  private def q169Oracle(s: SparkSession, d: String): String =
    s"""SELECT store, probe_id, hit_id, score FROM (
       |  SELECT 'dedup_index' AS store, batch_doc AS probe_id,
       |         index_doc AS hit_id, est_jaccard AS score
       |  FROM ($dedupIndexDeleteSql)
       |  UNION ALL
       |  SELECT 'vector_store', CAST(0 AS BIGINT), vec_id, approx_d2
       |  FROM (${VectorSuite.vecDeleteOracle(s, d, _ % 7 == 3)})
       |  UNION ALL
       |  SELECT 'training_shards', shard_id, checksum,
       |         CAST(n_tokens AS DOUBLE)
       |  FROM (
       |    WITH t AS (SELECT doc_id,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |      FROM documents),
       |    ${hashCtes("sh", "t", "doc_id + 42", "doc_id, tok")},
       |    c AS (SELECT doc_id, tok,
       |        sum(tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED
       |          PRECEDING) AS cum
       |      FROM sh),
       |    cut AS (SELECT doc_id, tok,
       |        CAST((cum - tok) // 2000 AS BIGINT) AS shard_id FROM c),
       |    kept AS (SELECT * FROM cut WHERE doc_id % 7 <> 3),
       |    ${hashCtes("hc", "kept", "doc_id", "shard_id, tok")}
       |    SELECT shard_id, bit_xor(h) AS checksum,
       |      CAST(sum(tok) AS BIGINT) AS n_tokens
       |    FROM hc GROUP BY shard_id)
       |) ORDER BY store, probe_id, hit_id""".stripMargin

  /** Cross-store registry drift ([[Takedown.auditRegistries]] +
    * [[alignRegistries]]): when takedowns flow through [[Takedown
    * .execute]] every store's persisted registry carries the same
    * blocked set — an id registered in SOME stores only (a hand
    * takedown that forgot a store, an execute that died between
    * stores) is a re-admission risk at exactly the store missing it.
    * The query stages three fresh registries, registers a set on all
    * (aligned: audit empty), lands one id on ONE store only (the
    * drift: one row per store missing it), then aligns (healed: empty
    * again). Registry verbs are pure control-plane, so the fixture is
    * three bare directories — no store data needed. */
  private lazy val q171Root: String =
    java.nio.file.Files.createTempDirectory("q171_reg").toString

  private def q171(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE fixture root per JVM, registries reset per run — repeated
    // bench/verify invocations stay deterministic without temp litter
    val stores = Seq("dedup_index", "training_shards", "vector_store")
      .map { n =>
        val dir = s"$q171Root/$n"
        new java.io.File(dir).mkdirs()
        Seq("_takedowns", "_takedowns.tmp", "_takedowns.lock")
          .foreach(f => new java.io.File(dir, f).delete())
        n -> dir
      }
    val taken = Seq(101L, 102L, 103L).toDF("id")
    stores.foreach { case (_, dir) =>
      graft.ops.Takedown.register(s, dir, taken, "id")
    }
    val aligned = graft.ops.Takedown.auditRegistries(s, stores)
    graft.ops.Takedown.register(s, stores.head._2,
      Seq(999L).toDF("id"), "id")
    val drift = graft.ops.Takedown.auditRegistries(s, stores)
    graft.ops.Takedown.alignRegistries(s, stores)
    val healed = graft.ops.Takedown.auditRegistries(s, stores)
    aligned.withColumn("phase", lit("aligned"))
      .unionByName(drift.withColumn("phase", lit("drift")))
      .unionByName(healed.withColumn("phase", lit("healed")))
      .orderBy(col("phase"), col("id"), col("missing_from"))
  }

  private val q171Sql =
    """SELECT CAST(id AS BIGINT) AS id, missing_from, phase
      |FROM (VALUES
      |  (999, 'training_shards', 'drift'),
      |  (999, 'vector_store', 'drift')
      |) t(id, missing_from, phase)
      |ORDER BY phase, id, missing_from""".stripMargin

  /** Corpus-level repeated-span removal ([[Dedup.removeRepeatedSpans]]):
    * a 9-token footer injected into every third document guarantees
    * cross-document 8-token repeats on top of the corpus's organic
    * near-dups; the first occurrence in (doc_id, pos) order survives,
    * every other occurrence is cut. The oracle replays fingerprints, the
    * distinct-doc threshold, the keeper rule, and the token-coverage
    * rewrite — a drifted keeper choice or off-by-one span end breaks the
    * hash. */
  private def q155(s: SparkSession, d: String): DataFrame = {
    val docs2 = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" alpha beta gamma delta epsilon zeta eta theta iota"))
          .otherwise(lit(""))).as("text"))
    Dedup.removeRepeatedSpans(docs2, spanTokens = 8, minDocs = 2)
      .orderBy(col("doc_id"))
  }

  private val q155Sql =
    """WITH d2 AS (SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0
      |         THEN ' alpha beta gamma delta epsilon zeta eta theta iota'
      |         ELSE '' END AS text
      |  FROM documents),
      |t2 AS (SELECT doc_id, string_split(text, ' ') AS w,
      |    list_transform(string_split(text, ' '), t ->
      |      list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        list_transform(string_split(t, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM d2),
      |pg AS (SELECT doc_id, list_transform(th, (x, i) ->
      |    CASE WHEN i + 7 <= len(th)
      |         THEN list_reduce(th[i : i+7],
      |           (a, b) -> (a * 131 + b) % 1000000007) END) AS pg
      |  FROM t2),
      |occ AS (SELECT doc_id, u['pos'] AS pos, u['g'] AS g FROM (
      |  SELECT doc_id, unnest(list_filter(list_transform(pg, (g, i) ->
      |      {'pos': i - 1, 'g': g}), s -> s['g'] IS NOT NULL)) AS u
      |  FROM pg)),
      |rep AS (SELECT g FROM (
      |    SELECT g, count(DISTINCT doc_id) AS nd FROM occ GROUP BY g)
      |  WHERE nd >= 2),
      |cuts AS (SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |      row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      |    FROM occ JOIN rep USING (g)) WHERE rn > 1),
      |toks AS (SELECT doc_id, u['k'] AS k, u['t'] AS t FROM (
      |  SELECT doc_id, unnest(list_transform(w, (t, k) ->
      |      {'k': k - 1, 't': t})) AS u FROM t2)),
      |cut_toks AS (SELECT DISTINCT t.doc_id, t.k FROM toks t JOIN cuts c
      |  ON t.doc_id = c.doc_id AND t.k >= c.pos AND t.k < c.pos + 8),
      |kept AS (SELECT t.doc_id, t.k, t.t FROM toks t LEFT JOIN cut_toks x
      |  ON t.doc_id = x.doc_id AND t.k = x.k WHERE x.k IS NULL),
      |keptagg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY k) AS clean_text,
      |    count(*) AS nkept FROM kept GROUP BY doc_id)
      |SELECT t2.doc_id, coalesce(ka.clean_text, '') AS clean_text,
      |  CAST(len(t2.w) - coalesce(ka.nkept, 0) AS INT) AS removed_tokens
      |FROM t2 LEFT JOIN keptagg ka USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Systematic PPS sampling ([[Sampling.ppsSample]]): ~20 docs per
    * source with inclusion probability proportional to n_chars, selected
    * by integer stride-crossing over the id-ordered cumulative-weight
    * line. The oracle replays the naive single-window formulation, which
    * the two-level (bin offset + intra-bin) decomposition must equal
    * row-for-row. */
  private def q141(s: SparkSession, d: String): DataFrame =
    Sampling.ppsSample(Tables.documents(s, d), "source", "n_chars", k = 20)
      .orderBy(col("doc_id"))

  private val q141Sql =
    """WITH t AS (SELECT source, doc_id,
      |    GREATEST(CAST(n_chars AS BIGINT), 0) AS w
      |  FROM documents),
      |c AS (SELECT source, doc_id, w,
      |    CAST(sum(w) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS tot FROM t)
      |SELECT source, doc_id, w, cum,
      |  CAST((cum * 20) // tot - ((cum - w) * 20) // tot AS BIGINT)
      |    AS n_picks
      |FROM c WHERE (cum * 20) // tot > ((cum - w) * 20) // tot
      |ORDER BY doc_id""".stripMargin

  /** Corpus bigram LM scoring ([[TextAnalysis.bigramLmScore]]): add-one
    * smoothed conditional bigram probabilities, fixed-pointed to integer
    * millionths before any summation so the score is engine-exact. The
    * oracle rebuilds the full model — bigram counts, context counts,
    * vocabulary — and rescores every document. */
  private def q142(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramLmScore(Tables.documents(s, d))
      .orderBy(col("doc_id"))

  private val q142Sql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |bg AS (SELECT doc_id,
      |    w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] AS bigram
      |  FROM (SELECT doc_id, w,
      |          unnest(generate_series(1, len(w) - 1)) AS i FROM toks)),
      |perdoc AS (SELECT doc_id, bigram, count(*) AS occ
      |  FROM bg GROUP BY doc_id, bigram),
      |cb AS (SELECT bigram, CAST(sum(occ) AS BIGINT) AS c_ab
      |  FROM perdoc GROUP BY bigram),
      |ca AS (SELECT string_split(bigram, ' ')[1] AS ctx,
      |    CAST(sum(c_ab) AS BIGINT) AS c_a FROM cb GROUP BY 1),
      |v AS (SELECT count(DISTINCT t) AS nv FROM
      |  (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
      |p AS (SELECT bigram,
      |    CAST(((c_ab + 1) * 1000000) // (c_a + nv) AS BIGINT) AS p_ppm
      |  FROM cb JOIN ca ON string_split(bigram, ' ')[1] = ctx
      |  CROSS JOIN v)
      |SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
      |  CAST(sum(occ * p_ppm) // sum(occ) AS BIGINT) AS avg_ppm,
      |  CAST(min(p_ppm) AS BIGINT) AS min_ppm
      |FROM perdoc JOIN p USING (bigram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Unicode NFC normalization via the native codegen expression
    * ([[graft.functions.TextNormFunctions.nfcNormalize]]). The corpus is
    * ASCII, so the decomposed input is constructed in-query (every 'a'
    * becomes 'a' + combining macron U+0304) and both engines normalize
    * the identical string: NFC recomposes each pair to a single
    * codepoint, so len_nfc returns to len_raw and n_composed counts the
    * 'a's. DuckDB's nfc_normalize builtin is the oracle-side kernel. */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val dec = regexp_replace(col("text"), "a", "a\u0304")
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_raw"),
      length(dec).cast("long").as("len_dec"),
      length(graft.functions.TextNormFunctions.nfcNormalize(dec))
        .cast("long").as("len_nfc"))
      .withColumn("n_composed", col("len_dec") - col("len_nfc"))
      .orderBy(col("doc_id"))
  }

  private val q143Sql =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS len_raw,
      |  CAST(length(replace(text, 'a', 'a' || chr(772))) AS BIGINT)
      |    AS len_dec,
      |  CAST(length(nfc_normalize(replace(text, 'a', 'a' || chr(772))))
      |    AS BIGINT) AS len_nfc,
      |  CAST(length(replace(text, 'a', 'a' || chr(772))) -
      |    length(nfc_normalize(replace(text, 'a', 'a' || chr(772))))
      |    AS BIGINT) AS n_composed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The APPLY side of BPE ([[Bpe.applyMerges]]): train 4 merges, then
    * tokenize every document under them in a zero-shuffle map stage
    * (the merge table is the bounded closure constant) and aggregate
    * compression stats per source. The oracle replays train + apply +
    * aggregate single-threaded at verify time — the distributed rewrite
    * paths must land on the identical token counts. */
  private def q135(s: SparkSession, d: String): DataFrame = {
    val merges = Bpe.bpeMerges(Tables.documents(s, d), rounds = 4)
      .collect() // 4 rows: the trained vocabulary metadata
      .map(r => (r.getAs[Long]("sym_a"), r.getAs[Long]("sym_b"),
        r.getAs[Long]("merged_sym"))).toIndexedSeq
    Bpe.applyMerges(s, Tables.documents(s, d), merges)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("toks_before"),
        sum(col("n_after")).as("toks_after"),
        sum(col("n_merged")).as("merged_occ"))
      .orderBy(col("source"))
  }

  private def q135Oracle(s: SparkSession, d: String): String = {
    import s.implicits._
    val rows = Tables.documents(s, d).select(col("source"), col("text"))
      .as[(String, String)].collect()
    Bpe.tokenizeSummaryReplay(rows.toIndexedSeq, 4).map {
      case (src, nd, before, after, merged) =>
        s"  ('$src', CAST($nd AS BIGINT), CAST($before AS BIGINT)," +
          s" CAST($after AS BIGINT), CAST($merged AS BIGINT))"
    }.mkString("SELECT * FROM (VALUES\n", ",\n",
      "\n) t(source, n_docs, toks_before, toks_after, merged_occ)" +
        " ORDER BY source")
  }

  /** Snapshot diff ([[graft.ops.Diff.snapshotDiffCounts]]): the new
    * snapshot drops doc_id % 17 = 3, edits the text of % 13 = 2, and
    * clones % 10 = 0 under offset ids; the diff classifies every key
    * from content fingerprints meeting in ONE ids+hash full-outer join.
    * The oracle states the ground-truth rules directly, so a
    * fingerprint that failed to flag an edit (or flagged a non-edit)
    * breaks the hash. */
  private def q136(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val newSnap = docs.filter(col("doc_id") % 17 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 13 === 2, concat(col("text"), lit(" edited")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 50000L))
    graft.ops.Diff.snapshotDiffCounts(docs, newSnap, "doc_id",
        TextAnalysis.fingerprint(col("text")))
      .orderBy(col("status"))
  }

  private val q136Sql =
    """SELECT * FROM (
      |  SELECT 'added' AS status, CAST(count(*) AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT 'changed', CAST(count(*) AS BIGINT) FROM documents
      |  WHERE doc_id % 17 <> 3 AND doc_id % 13 = 2
      |  UNION ALL
      |  SELECT 'removed', CAST(count(*) AS BIGINT) FROM documents
      |  WHERE doc_id % 17 = 3
      |  UNION ALL
      |  SELECT 'unchanged', CAST(count(*) AS BIGINT) FROM documents
      |  WHERE doc_id % 17 <> 3 AND doc_id % 13 <> 2
      |) ORDER BY status""".stripMargin

  /** REAL decode + REAL nearest-neighbor resize
    * ([[Multimodal.imageResizeStats]]): 16x16 PNG fixtures decode
    * losslessly, the 8x8 NN downsample picks source pixels (2x, 2y),
    * and the resized channel means are exact rationals of the generator
    * pattern at those coordinates — the oracle replays the sampling
    * rule, so a wrong coordinate or mis-decoded pixel breaks the
    * hash. */
  private def q134(s: SparkSession, d: String): DataFrame =
    Multimodal.imageResizeStats(s, Tables.documents(s, d)).toDF()
      .orderBy(col("doc_id"))

  private val q134Sql =
    """SELECT d.doc_id,
      |  CAST(16 AS INT) AS src_w, CAST(16 AS INT) AS src_h,
      |  CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
      |  avg(CAST((7*d.doc_id + 13*(2*x.range) + 31*(2*y.range)) % 256
      |      AS DOUBLE)) AS mean_r,
      |  avg(CAST((11*d.doc_id + 17*(2*x.range) + 5*(2*y.range)) % 256
      |      AS DOUBLE)) AS mean_g,
      |  avg(CAST((3*d.doc_id + 23*(2*x.range) + 29*(2*y.range)) % 256
      |      AS DOUBLE)) AS mean_b
      |FROM documents d, range(0, 8) x, range(0, 8) y
      |WHERE d.doc_id % 3 = 0
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** Token-budget curation ([[Sampling.tokenBudgetSelect]]): per
    * source, keep documents in (n_chars desc, doc_id) priority order
    * until an 8000-token budget fills. The Spark side decomposes the
    * per-key total order into a (key, priority) histogram + bin offsets
    * + per-bin windows — no per-key single-reducer sort — and the
    * oracle replays the NAIVE single-window formulation, so the
    * decomposition must be row-for-row exact, running totals included. */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("tok", size(split(col("text"), " ")).cast("long"))
    // 800 binds against every source's ~1300-token mass at all test SFs,
    // so the boundary path (mid-bin budget cut) is exercised per source
    Sampling.tokenBudgetSelect(docs, "source", "n_chars", "tok",
        budget = 800L)
      .orderBy(col("doc_id"))
  }

  private val q133Sql =
    """WITH t AS (SELECT doc_id, source,
      |    CAST(n_chars AS BIGINT) AS priority,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |c AS (SELECT source, doc_id, priority, tok,
      |    CAST(sum(tok) OVER (PARTITION BY source
      |      ORDER BY priority DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok FROM t)
      |SELECT source, doc_id, priority, tok, cum_tok FROM c
      |WHERE cum_tok <= 800 ORDER BY doc_id""".stripMargin

  /** BPE-style tokenizer-merge training ([[Bpe.bpeMerges]]): six rounds
    * of corpus-wide most-frequent-adjacent-pair selection with greedy
    * left-to-right merge rewrites between rounds. Per round the corpus
    * never shuffles — only (pair, count) rows do — and the winning pair
    * re-enters the plan as a 1-row broadcast. Not SQL-expressible (the
    * rewrite loop), so the oracle is GENERATED at verify time from the
    * single-threaded replay ([[Bpe.bpeMergesReplay]]): the total-order
    * arg-max (count desc, sym asc) makes the distributed result
    * bit-identical to the replay at any SF. */
  private def q132(s: SparkSession, d: String): DataFrame =
    Bpe.bpeMerges(Tables.documents(s, d), rounds = 6)

  private def q132Oracle(s: SparkSession, d: String): String = {
    import s.implicits._
    // oracle-generation-only collect, bounded by the corpus at the
    // verified SF (the collectVecs/IVF-oracle precedent)
    val texts = Tables.documents(s, d).select(col("text")).as[String]
      .collect()
    Bpe.bpeMergesReplay(texts.toIndexedSeq, 6).map {
      case (r, a, b, c, m) =>
        s"  (CAST($r AS INT), CAST($a AS BIGINT), CAST($b AS BIGINT)," +
          s" CAST($c AS BIGINT), CAST($m AS BIGINT))"
    }.mkString("SELECT * FROM (VALUES\n", ",\n",
      "\n) t(merge_round, sym_a, sym_b, pair_count, merged_sym)" +
        " ORDER BY merge_round")
  }

  /** Batched BPE training ([[Bpe.bpeMergesBatched]]): 256 merges in
    * 4 job waves (top-64 pairwise-disjoint pairs per round, one corpus
    * rewrite per round) — the production-depth tokenizer-trainer shape
    * that [[Bpe.bpeMerges]]'s one-merge-per-round loop cannot reach.
    * Not SQL-expressible, so the oracle is GENERATED at verify time
    * from the single-threaded replay ([[Bpe.bpeMergesBatchedReplay]]):
    * same capped total-order candidate list, same greedy disjoint
    * selection, same batch rewrite — 256 rows of bit-equality at any
    * SF. */
  private def q145(s: SparkSession, d: String): DataFrame =
    Bpe.bpeMergesBatched(Tables.documents(s, d), totalMerges = 256,
      batch = 64)

  private def q145Oracle(s: SparkSession, d: String): String = {
    import s.implicits._
    // oracle-generation-only collect (the q132 precedent)
    val texts = Tables.documents(s, d).select(col("text")).as[String]
      .collect()
    Bpe.bpeMergesBatchedReplay(texts.toIndexedSeq, 256, 64).map {
      case (r, a, b, c, m) =>
        s"  (CAST($r AS INT), CAST($a AS BIGINT), CAST($b AS BIGINT)," +
          s" CAST($c AS BIGINT), CAST($m AS BIGINT))"
    }.mkString("SELECT * FROM (VALUES\n", ",\n",
      "\n) t(merge_round, sym_a, sym_b, pair_count, merged_sym)" +
        " ORDER BY merge_round")
  }

  /** Substring-level duplication ([[Dedup.sharedSpanPairs]]): longest
    * exact shared token span per doc pair from positional 3-gram matches
    * on the diagonal, maximal runs via the pos - row_number trick,
    * corpus-frequent grams excluded before the join (the stop-gram
    * guard). Catches verbatim shared paragraphs whole-doc Jaccard
    * misses. The oracle replays hashing, positions, the df cap, run
    * grouping and both rollups. */
  private def q119(s: SparkSession, d: String): DataFrame =
    Dedup.sharedSpanPairs(Tables.documents(s, d), minSpanTokens = 5,
        dfCap = 10)
      .orderBy(col("doc_a"), col("doc_b"))

  private val q119Sql =
    """WITH t2 AS (SELECT doc_id, list_transform(string_split(text, ' '), t ->
      |      list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        list_transform(string_split(t, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM documents),
      |pg AS (SELECT doc_id, list_transform(th, (x, i) ->
      |    CASE WHEN i + 2 <= len(th)
      |         THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
      |              % 1000000007 END) AS pg
      |  FROM t2),
      |m AS (SELECT doc_id, u['pos'] AS pos, u['g'] AS g FROM (
      |  SELECT doc_id, unnest(list_filter(list_transform(pg, (g, i) ->
      |      {'pos': i - 1, 'g': g}), s -> s['g'] IS NOT NULL)) AS u
      |  FROM pg)),
      |rare AS (SELECT g FROM (
      |    SELECT g, count(DISTINCT doc_id) AS df FROM m GROUP BY g)
      |  WHERE df <= 10),
      |mt AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
      |    a.pos - b.pos AS diag
      |  FROM (SELECT m.doc_id, m.pos, m.g FROM m JOIN rare USING (g)) a
      |  JOIN (SELECT m.doc_id, m.pos, m.g FROM m JOIN rare USING (g)) b
      |    USING (g)
      |  WHERE a.doc_id < b.doc_id),
      |spans AS (SELECT doc_a, doc_b, count(*) + 2 AS span_tokens
      |  FROM (SELECT doc_a, doc_b, diag, pa - row_number()
      |      OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
      |    FROM mt)
      |  GROUP BY doc_a, doc_b, diag, grp
      |  HAVING count(*) + 2 >= 5)
      |SELECT doc_a, doc_b, CAST(max(span_tokens) AS BIGINT)
      |    AS max_span_tokens,
      |  count(*) AS n_spans
      |FROM spans GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin

  /** Count-min-sketch frequency profile
    * ([[graft.ops.Sketches.cmsTable]] / cmsEstimates): the 4 x 1024
    * counter table builds in ONE partial-agg pass over the token stream
    * (the partial aggregate IS the sketch merge — the shuffle carries at
    * most depth*width rows per partition however many tokens flow in),
    * probe tokens read back their min counter through a broadcast of the
    * 4096-row table, and an exact recount (corpus semi-joined to the
    * broadcast probe set — the q81 discipline) sits alongside to exhibit
    * the one-sided guarantee est_cnt >= exact_cnt. Integer arithmetic
    * end to end, so the oracle replays hashes, table, and estimates
    * exactly. */
  private def q123(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(
      explode(TextAnalysis.tokenHashes(col("text"))).as("k"))
    val table = graft.ops.Sketches.cmsTable(toks, "k",
      depth = 4, width = 1024)
    val probe = docs.filter(col("doc_id") < 5)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .distinct()
      .withColumn("k", TextAnalysis.fingerprint(col("token")))
    val est = graft.ops.Sketches.cmsEstimates(probe, "k", table,
      depth = 4, width = 1024)
    val exact = toks
      .join(broadcast(probe.select(col("k"))), Seq("k"), "left_semi")
      .groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
    est.join(exact, Seq("k"), "left")
      .select(col("token"), col("est_cnt"),
        coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"))
      .orderBy(col("token"))
  }

  private val q123Sql =
    """WITH tokh AS (SELECT list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(token, ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS k
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token
      |        FROM documents)),
      |c1 AS (SELECT k, j,
      |    ((k + j * 782000003) % 1000000007) * 2654435761 % 1000000007 AS h
      |  FROM tokh CROSS JOIN range(4) r(j)),
      |c2 AS (SELECT k, j, ((h + h // 8192) * 972663749) % 1000000007 AS h
      |  FROM c1),
      |c3 AS (SELECT k, j,
      |    (((h + h // 8192) * 468703703) % 1000000007) % 1024 AS pos
      |  FROM c2),
      |tbl AS (SELECT j, pos, count(*) AS cnt FROM c3 GROUP BY j, pos),
      |probe AS (SELECT DISTINCT token FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |    WHERE doc_id < 5)),
      |pk AS (SELECT token, list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(token, ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS k FROM probe),
      |p1 AS (SELECT token, k, j,
      |    ((k + j * 782000003) % 1000000007) * 2654435761 % 1000000007 AS h
      |  FROM pk CROSS JOIN range(4) r(j)),
      |p2 AS (SELECT token, k, j,
      |    ((h + h // 8192) * 972663749) % 1000000007 AS h FROM p1),
      |p3 AS (SELECT token, k, j,
      |    (((h + h // 8192) * 468703703) % 1000000007) % 1024 AS pos
      |  FROM p2),
      |est AS (SELECT token, k, min(COALESCE(cnt, 0)) AS est_cnt
      |  FROM p3 LEFT JOIN tbl USING (j, pos) GROUP BY token, k),
      |exact AS (SELECT k, count(*) AS exact_cnt FROM tokh GROUP BY k)
      |SELECT est.token, est.est_cnt,
      |  COALESCE(exact.exact_cnt, 0) AS exact_cnt
      |FROM est LEFT JOIN exact USING (k) ORDER BY est.token""".stripMargin

  /** End-to-end curation composition ([[graft.ops.Pipeline.curate]]):
    * exact-dedup collapse -> zero-shuffle quality gate -> per-source
    * quota, in the order that keeps every keyed stage running on
    * monotonically shrinking data. The oracle replays all three stages
    * and their ordering from first principles. */
  private def q116(s: SparkSession, d: String): DataFrame =
    graft.ops.Pipeline.curate(Tables.documents(s, d))
      .orderBy(col("doc_id"))

  private val q116Sql =
    """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
      |  GROUP BY md5(text)),
      |gated AS (SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents JOIN keep USING (doc_id)
      |  WHERE len(string_split(text, ' ')) >= 30
      |    AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
      |        / length(text) >= 0.78)
      |SELECT doc_id, source, n_tokens FROM (
      |  SELECT doc_id, source, n_tokens,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM gated)
      |WHERE rn <= 15 ORDER BY doc_id""".stripMargin

  /** Per-source document quota ([[Sampling.perKeyCap]]): keep at most 10
    * docs per source, deterministically the lowest doc_ids — the
    * Common-Crawl-style per-domain cap that stops one hot domain from
    * dominating a pre-training mix. One keyed shuffle; the window keeps a
    * running counter, never a global sort. */
  private def q111(s: SparkSession, d: String): DataFrame =
    Sampling.perKeyCap(Tables.documents(s, d), "source", cap = 10)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val q111Sql =
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 10 ORDER BY doc_id""".stripMargin

  /** Corpus-bigram-LM coverage ([[TextAnalysis.bigramCoverage]]): each
    * doc scored by how much of it the corpus's own bigram table has seen
    * in >= 2 documents — the CCNet-style in-distribution signal kept
    * integer-exact (counts + two final divisions) so the oracle replays
    * it bit-for-bit. */
  private def q102(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramCoverage(Tables.documents(s, d), minDf = 2)
      .orderBy(col("doc_id"))

  private val q102Sql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT doc_id,
      |    w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] AS bigram
      |  FROM (SELECT doc_id, w,
      |          unnest(generate_series(1, len(w) - 1)) AS i FROM toks)),
      |perdoc AS (SELECT doc_id, bigram, count(*) AS occ
      |  FROM bg GROUP BY doc_id, bigram),
      |dfv AS (SELECT bigram, count(*) AS df FROM perdoc GROUP BY bigram)
      |SELECT doc_id,
      |  CAST(sum(occ) AS BIGINT) AS n_bigrams,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(CASE WHEN df >= 2 THEN occ ELSE 0 END) AS BIGINT)
      |    AS covered_occ,
      |  round(sum(CASE WHEN df >= 2 THEN occ ELSE 0 END)
      |    / CAST(sum(occ) AS DOUBLE), 6) AS coverage,
      |  round(sum(occ * df) / CAST(sum(occ) AS DOUBLE), 6) AS mean_df
      |FROM perdoc JOIN dfv USING (bigram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Weighted n-gram cosine near-dups ([[graft.ops.SparseSim
    * .ngramCosinePairs]]): bag-of-trigrams vectors meet through the
    * inverted posting-list join (candidates bounded by sum(df^2), with
    * the df cap as the stop-gram guard), and every score stays an exact
    * integer ratio until the single final division — the oracle
    * hash-compares the doubles unrounded. */
  private def q97(s: SparkSession, d: String): DataFrame =
    graft.ops.SparseSim.ngramCosinePairs(
        Tables.documents(s, d), n = 3, threshold = 0.5, maxDf = 100)
      .orderBy(col("doc_a"), col("doc_b"))

  private val q97Sql =
    """WITH t2 AS (SELECT doc_id,
      |    list_transform(string_split(text, ' '), t ->
      |      list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        list_transform(string_split(t, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM documents),
      |pg AS (SELECT doc_id, list_filter(list_transform(th, (x, i) ->
      |    CASE WHEN i + 2 <= len(th)
      |         THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
      |              % 1000000007 END), g -> g IS NOT NULL) AS pg
      |  FROM t2),
      |tf AS (SELECT doc_id, gram, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(pg) AS gram FROM pg)
      |  GROUP BY doc_id, gram),
      |p AS (SELECT * FROM tf WHERE gram IN (
      |    SELECT gram FROM (SELECT gram, count(*) AS df FROM tf GROUP BY gram)
      |    WHERE df <= 100)),
      |norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS ss
      |  FROM p GROUP BY doc_id),
      |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
      |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, dot,
      |  CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))) AS cosine
      |FROM dots
      |JOIN norms na ON doc_a = na.doc_id
      |JOIN norms nb ON doc_b = nb.doc_id
      |WHERE CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact dedup groups by content digest (hash-groupBy; one shuffle). */
  private def q30(s: SparkSession, d: String): DataFrame =
    Dedup.exactDuplicates(Tables.documents(s, d)).orderBy(col("h"))

  private val q30Sql =
    """SELECT md5(text) AS h, count(*) AS n_docs, min(doc_id) AS keeper
      |FROM documents GROUP BY 1 ORDER BY h""".stripMargin

  /** Per-document quality features (token count, mean token length,
    * alphabetic ratio) — all codegen'd expressions. */
  private def q31(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityFeatures(Tables.documents(s, d)).orderBy(col("doc_id"))

  private val q31Sql =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      | round((CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1))
      |       / len(string_split(text, ' ')), 4) AS avg_token_len,
      | round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
      |       / length(text), 6) AS alpha_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus token statistics per language label. */
  private def q32(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("nt"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        round(avg(col("nt")), 4).as("avg_tokens"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  private val q32Sql =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      | round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
      | max(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Heuristic stopword language ID vs the labeled lang column. */
  private def q33(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langIdPredicted(col("text")).as("predicted"))
      .orderBy(col("doc_id"))

  private val q33Sql = {
    val hits = TextAnalysis.stopwords.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_distinct(list_intersect(list_distinct(string_split(text, ' ')), $arr))) AS h_$lang"
    }.mkString(",\n    ")
    val langs = TextAnalysis.stopwords.map(_._1)
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val laterGe = langs.drop(i + 1).map(o => s"h_$l >= h_$o")
      val conds = (s"h_$l > 0" +: laterGe).mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n    ")
    s"""SELECT doc_id, lang,
       |  CASE $cases ELSE 'und' END AS predicted
       |FROM (SELECT doc_id, lang, $hits FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Polynomial rolling-hash document fingerprint (SURVEY §2.7 analog of
    * content keying). */
  private def q34(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  private val q34Sql =
    """SELECT doc_id,
      | list_reduce(
      |   list_prepend(CAST(7 AS BIGINT),
      |     list_transform(string_split(text, ''),
      |       c -> CAST(unicode(c) AS BIGINT))),
      |   (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs, prefix-filtered similarity join
    * over the whole corpus (the oracle verifies with the brute-force
    * quadratic join — same pairs, same jaccard). */
  private def q35(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  private val q35Sql =
    s"""WITH $thCte,
       |$gramsCte
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
       |      6) AS jaccard
       |  FROM g a JOIN g b ON a.doc_id < b.doc_id
       |  WHERE len(a.grams) > 0 AND len(b.grams) > 0)
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash-LSH near-dup candidates (portable hash family: the oracle
    * replays signatures, banding, the bucket-size skew guard and the
    * agreement scoring). */
  private def q36(s: SparkSession, d: String): DataFrame =
    Dedup.minHashCandidatePairs(Tables.documents(s, d))
      .orderBy(col("doc_a"), col("doc_b"))

  // the same power-of-primitive-root seed coefficients the Spark
  // signatures use, inlined as list literals
  private def coefA = Dedup.seedCoefA(64).mkString("[", ", ", "]")
  private def coefB = Dedup.seedCoefB(64).mkString("[", ", ", "]")

  private val q36Sql =
    s"""WITH $thCte,
       |$gramsCte,
       |sig AS (SELECT doc_id, list_transform(range(0, 64), s ->
       |    list_min(list_transform(grams, x ->
       |      (($coefA)[s+1] * x + ($coefB)[s+1]) % 1000000007))) AS sig
       |  FROM g WHERE len(grams) > 0),
       |banded AS (SELECT doc_id, b.range AS band,
       |    list_reduce(list_prepend(CAST(7 AS BIGINT),
       |        sig[b.range*4+1 : b.range*4+4]),
       |      (a, v) -> (a * 131 + v) % 1000000007) AS bucket
       |  FROM sig, range(0, 16) b),
       |sized AS (SELECT doc_id, band, bucket,
       |    count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM (SELECT * FROM sized WHERE bsz <= 50) a
       |  JOIN (SELECT * FROM sized WHERE bsz <= 50) b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, est_jaccard FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 64
       |      AS est_jaccard
       |  FROM pairs
       |  JOIN sig sa ON sa.doc_id = doc_a
       |  JOIN sig sb ON sb.doc_id = doc_b)
       |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash near-dup candidates (portable parity-hash bits; full oracle). */
  private def q38(s: SparkSession, d: String): DataFrame =
    Dedup.simHashCandidatePairs(Tables.documents(s, d))
      .orderBy(col("doc_a"), col("doc_b"))

  private val q38Sql =
    s"""WITH $thCte,
       |sig AS (SELECT doc_id, list_transform(
       |    list_transform(range(0, 64), j ->
       |      list_sum(list_transform(th, x ->
       |        ((($coefA)[j+1] * x + ($coefB)[j+1]) % 1000000007) % 2
       |        * 2 - 1))),
       |    c -> CASE WHEN c > 0 THEN 1 ELSE 0 END) AS sig
       |  FROM th),
       |banded0 AS (SELECT doc_id, b.range AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        sig[b.range*16+1 : b.range*16+16]),
       |      (a, v) -> a * 2 + v) AS bucket
       |  FROM sig, range(0, 4) b),
       |banded AS (SELECT doc_id, band, bucket FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
       |    FROM banded0) WHERE bsz <= 50),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] <> p[2] THEN 1 ELSE 0 END)) AS INT) AS hamming
       |  FROM pairs
       |  JOIN sig sa ON sa.doc_id = doc_a
       |  JOIN sig sb ON sb.doc_id = doc_b)
       |WHERE hamming <= 8 ORDER BY doc_a, doc_b""".stripMargin

  /** Multimodal plumbing: binary payload -> per-partition stub decode ->
    * typed feature rows. The deterministic stub checksum is the portable
    * byte fold, so even the mapPartitions path is oracle-checked (the
    * corpus is ASCII: byte folds == codepoint folds). */
  private def q40(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(s, Multimodal.withBlob(Tables.documents(s, d)))
      .toDF()
      .select(col("doc_id"), col("modality"), col("n_bytes"), col("checksum"))
      .orderBy(col("doc_id"))

  private val q40Sql =
    """SELECT doc_id,
      | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |      ELSE 'video' END AS modality,
      | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      | list_reduce(
      |   list_prepend(CAST(7 AS BIGINT),
      |     list_transform(string_split(text, ''),
      |       c -> CAST(unicode(c) AS BIGINT))),
      |   (a, b) -> (a * 31 + b) % 1000000007) AS checksum
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Binary-column metadata scan (oracle-checked slice of q40). */
  private def q41(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).as("blob_len"),
        col("source"), col("lang"))
      .orderBy(col("doc_id"))

  private val q41Sql =
    """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS blob_len,
      | source, lang
      |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL image decode on executors: each task generates the deterministic
    * PNG fixture for its rows, decodes it with javax.imageio, and folds
    * exact integer channel sums over the DECODED pixels. PNG is lossless
    * and the fixture pattern is a pure integer function of (doc_id, x, y),
    * so the oracle replays the channel means analytically — if the decode
    * path read even one pixel wrong, the means drift and the hash breaks. */
  private def q69(s: SparkSession, d: String): DataFrame =
    Multimodal.imageDecodeStats(s, Tables.documents(s, d)).toDF()
      .orderBy(col("doc_id"))

  private val q69Sql =
    """SELECT d.doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
      |  avg(CAST((7*d.doc_id + 13*x.range + 31*y.range) % 256 AS DOUBLE)) AS mean_r,
      |  avg(CAST((11*d.doc_id + 17*x.range + 5*y.range) % 256 AS DOUBLE)) AS mean_g,
      |  avg(CAST((3*d.doc_id + 23*x.range + 29*y.range) % 256 AS DOUBLE)) AS mean_b
      |FROM documents d, range(0, 16) x, range(0, 16) y
      |WHERE d.doc_id % 3 = 0
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** BPE-style pre-tokenization (letter runs / digit runs / single
    * punctuation — the GPT-2 pre-tokenizer shape) with per-doc token
    * stats; the regex alternation is left-greedy in both engines. */
  private def q47(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_bpe_tokens"),
        size(array_distinct(col("toks"))).as("n_unique"),
        round(
          aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).cast("double")
            / size(col("toks")), 4).as("avg_tok_len"))
      .orderBy(col("doc_id"))

  private val q47Sql =
    """SELECT doc_id,
      | CAST(len(toks) AS INT) AS n_bpe_tokens,
      | CAST(len(list_distinct(toks)) AS INT) AS n_unique,
      | round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
      |   / len(toks), 4) AS avg_tok_len
      |FROM (SELECT doc_id,
      |        regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Near-dup clustering: MinHash-LSH candidate pairs -> connected
    * components -> canonical keeper per cluster. The oracle replays the
    * full q36 candidate chain, then computes components with a recursive
    * CTE (min reachable doc_id == component label). The heavy CTEs are
    * MATERIALIZED: DuckDB 1.0 inlines CTEs by default, and the recursive
    * walk would otherwise re-evaluate the whole MinHash chain per
    * fixpoint step (measured 3.3x). */
  private def q53(s: SparkSession, d: String): DataFrame =
    Dedup.duplicateClusters(Tables.documents(s, d)).orderBy(col("doc_id"))

  // the first "AS (" after the CTE name becomes "AS MATERIALIZED ("
  private def mat(cte: String): String = cte.replaceFirst("AS \\(", "AS MATERIALIZED (")

  private val sigCte =
    s"""sig AS (SELECT doc_id, list_transform(range(0, 64), s ->
       |    list_min(list_transform(grams, x ->
       |      (($coefA)[s+1] * x + ($coefB)[s+1]) % 1000000007))) AS sig
       |  FROM g WHERE len(grams) > 0)""".stripMargin
  private val minhashBandCtes =
    """banded AS (SELECT doc_id, b.range AS band,
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        sig[b.range*4+1 : b.range*4+4]),
      |      (a, v) -> (a * 131 + v) % 1000000007) AS bucket
      |  FROM sig, range(0, 16) b),
      |sized AS (SELECT doc_id, band, bucket,
      |    count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded),
      |rawpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM (SELECT * FROM sized WHERE bsz <= 50) a
      |  JOIN (SELECT * FROM sized WHERE bsz <= 50) b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
  private val candCte =
    """cand AS MATERIALIZED (SELECT doc_a, doc_b FROM (
      |  SELECT doc_a, doc_b,
      |    CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
      |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 64
      |      AS est_jaccard
      |  FROM rawpairs
      |  JOIN sig sa ON sa.doc_id = doc_a
      |  JOIN sig sb ON sb.doc_id = doc_b)
      |  WHERE est_jaccard >= 0.5)""".stripMargin

  private val q53Sql =
    s"""WITH RECURSIVE ${mat(thCte)},
       |${mat(gramsCte)},
       |${mat(sigCte)},
       |$minhashBandCtes,
       |$candCte,
       |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
       |      UNION ALL SELECT doc_b, doc_a FROM cand),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |walk(id, lbl) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.a, w.lbl FROM e JOIN walk w ON w.id = e.b),
       |labels AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id)
       |SELECT id AS doc_id, cluster_id,
       |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       |  CAST(CASE WHEN id = cluster_id THEN 1 ELSE 0 END AS INT) AS keep
       |FROM labels
       |ORDER BY doc_id""".stripMargin

  /** The "write the deduped dataset" step: corpus minus every
    * non-canonical near-dup cluster member (q53's clustering composed
    * with a left-anti join). The oracle replays the whole chain —
    * signatures, banding, candidates, recursive min-label propagation —
    * then applies the same anti-join. */
  private def q72(s: SparkSession, d: String): DataFrame =
    Dedup.canonicalCorpus(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))

  private val q72Sql =
    s"""WITH RECURSIVE ${mat(thCte)},
       |${mat(gramsCte)},
       |${mat(sigCte)},
       |$minhashBandCtes,
       |$candCte,
       |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
       |      UNION ALL SELECT doc_b, doc_a FROM cand),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |walk(id, lbl) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.a, w.lbl FROM e JOIN walk w ON w.id = e.b),
       |labels AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id)
       |SELECT doc_id, source, lang FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: training docs (doc_id % 97 <> 0) that
    * share NO hashed 4-gram with the holdout slice (doc_id % 97 = 0) —
    * verbatim-leakage semantics: 4 consecutive tokens in common = drop
    * (4 is calibrated to this templated corpus; real pipelines use 8-13).
    * The posting-list semi-join on the gram hash is the scale shape —
    * texts never ride the shuffle. */
  private def q73(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dropIds = Dedup.contaminatedIds(docs, col("doc_id") % 97 === 0, n = 4)
    docs.filter(col("doc_id") % 97 =!= 0)
      .join(dropIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val q73Sql =
    s"""WITH $thCte,
       |g4 AS (SELECT doc_id,
       |    list_distinct(list_filter(
       |      list_transform(th, (x, i) ->
       |        CASE WHEN i + 3 <= len(th)
       |             THEN list_reduce(th[i:i+3],
       |                    (a, v) -> (a * 131 + v) % 1000000007) END),
       |      z -> z IS NOT NULL)) AS grams
       |  FROM th),
       |hold AS (SELECT DISTINCT unnest(grams) AS gram FROM g4
       |  WHERE doc_id % 97 = 0),
       |contaminated AS (SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest(grams) AS gram FROM g4
       |    WHERE doc_id % 97 <> 0) t
       |  JOIN hold USING (gram))
       |SELECT doc_id, source, lang FROM documents
       |WHERE doc_id % 97 <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |ORDER BY doc_id""".stripMargin

  /** Bloom-broadcast decontamination ([[Dedup.contaminatedIdsBloom]]):
    * same verbatim-leakage semantics as q73 on a different holdout
    * slice, but the corpus postings are pruned MAP-SIDE against a
    * broadcast Bloom filter of the holdout grams before any shuffle —
    * prune-then-exact-verify, so Bloom false positives die in the
    * verify join and the result is exactly the semi-join answer. The
    * oracle is the exact formulation: if the Bloom path dropped a true
    * overlap (a false negative, impossible by construction) or skipped
    * verification, the hash breaks. */
  private def q130(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dropIds = Dedup.contaminatedIdsBloom(docs, col("doc_id") % 89 === 0,
      n = 4)
    docs.filter(col("doc_id") % 89 =!= 0)
      .join(dropIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val q130Sql =
    s"""WITH $thCte,
       |g4 AS (SELECT doc_id,
       |    list_distinct(list_filter(
       |      list_transform(th, (x, i) ->
       |        CASE WHEN i + 3 <= len(th)
       |             THEN list_reduce(th[i:i+3],
       |                    (a, v) -> (a * 131 + v) % 1000000007) END),
       |      z -> z IS NOT NULL)) AS grams
       |  FROM th),
       |hold AS (SELECT DISTINCT unnest(grams) AS gram FROM g4
       |  WHERE doc_id % 89 = 0),
       |contaminated AS (SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest(grams) AS gram FROM g4
       |    WHERE doc_id % 89 <> 0) t
       |  JOIN hold USING (gram))
       |SELECT doc_id, source, lang FROM documents
       |WHERE doc_id % 89 <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition filters. The Spark side is a per-row sorted
    * longest-run fold (zero shuffle); the oracle verifies it with the
    * straightforward unnest + group-by formulation. */
  private def q54(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionFeatures(Tables.documents(s, d))
      .orderBy(col("doc_id"))

  private val q54Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |         i -> toks[i] || ' ' || toks[i+1])) AS g FROM t),
      |cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      |top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n,
      |        CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1)
      |SELECT t.doc_id,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  round(1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
      |    AS dup_token_frac,
      |  coalesce(top_bigram_n, CAST(0 AS BIGINT)) AS top_bigram_n,
      |  round(CAST(top_bigram_n AS DOUBLE) / nullif(tot, 0), 6)
      |    AS frac_top_bigram,
      |  CAST(CASE WHEN CAST(top_bigram_n AS DOUBLE) / nullif(tot, 0) >= 0.2
      |       THEN 1 ELSE 0 END AS INT) AS flagged
      |FROM t LEFT JOIN top ON t.doc_id = top.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Greedy per-source sequence packing (512-token budget). The oracle
    * replays the sequential fold with a recursive CTE stepping through
    * each source's row_number order. */
  private def q58(s: SparkSession, d: String): DataFrame =
    Packing.packBySource(Tables.documents(s, d)).toDF()
      .orderBy(col("doc_id"))

  private val q58Sql =
    """WITH RECURSIVE d AS MATERIALIZED (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |walk(source, rn, doc_id, n_tokens, fill, bin) AS (
      |  SELECT source, rn, doc_id, n_tokens, CAST(n_tokens AS BIGINT),
      |    CAST(0 AS BIGINT)
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.source, d.rn, d.doc_id, d.n_tokens,
      |    CASE WHEN w.fill + d.n_tokens > 512 THEN CAST(d.n_tokens AS BIGINT)
      |         ELSE w.fill + d.n_tokens END,
      |    CASE WHEN w.fill + d.n_tokens > 512 THEN w.bin + 1 ELSE w.bin END
      |  FROM d JOIN walk w ON d.source = w.source AND d.rn = w.rn + 1)
      |SELECT doc_id, source, n_tokens, bin AS pack_id
      |FROM walk ORDER BY doc_id""".stripMargin

  /** Skew-guarded packing: the stream key widens to (source, shard) with
    * shard = doc_id div 100, so one hot source becomes many bounded
    * sequential tasks instead of one hot task — the 100 TB shape. Shard
    * boundaries are a pure function of the data (never of the cluster
    * layout); pack ids namespace as shard*shardDocs + bin. The oracle
    * replays the same fold with the recursive CTE partitioned by
    * (source, shard). */
  private def q68(s: SparkSession, d: String): DataFrame =
    Packing.packBySource(Tables.documents(s, d), shardDocs = Some(100L))
      .toDF().orderBy(col("doc_id"))

  private val q68Sql =
    """WITH RECURSIVE d AS MATERIALIZED (
      |  SELECT source, doc_id,
      |    CAST(floor(doc_id / 100) AS BIGINT) AS shard,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |    row_number() OVER (
      |      PARTITION BY source, CAST(floor(doc_id / 100) AS BIGINT)
      |      ORDER BY doc_id) AS rn
      |  FROM documents),
      |walk(source, shard, rn, doc_id, n_tokens, fill, bin) AS (
      |  SELECT source, shard, rn, doc_id, n_tokens, CAST(n_tokens AS BIGINT),
      |    CAST(0 AS BIGINT)
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.source, d.shard, d.rn, d.doc_id, d.n_tokens,
      |    CASE WHEN w.fill + d.n_tokens > 512 THEN CAST(d.n_tokens AS BIGINT)
      |         ELSE w.fill + d.n_tokens END,
      |    CASE WHEN w.fill + d.n_tokens > 512 THEN w.bin + 1 ELSE w.bin END
      |  FROM d JOIN walk w
      |    ON d.source = w.source AND d.shard = w.shard AND d.rn = w.rn + 1)
      |SELECT doc_id, source, n_tokens, shard * 100 + bin AS pack_id
      |FROM walk ORDER BY doc_id""".stripMargin

  /** Percentile-band quality gate: per-language p10/p90 token-count
    * bounds (exact interpolated percentiles — Spark `percentile` ==
    * DuckDB `quantile_cont`) are computed once, broadcast back against
    * the corpus, and each language reports how many documents survive.
    * The aggregate-then-broadcast-back shape is the scale pattern: the
    * bounds table is O(languages), so the second pass is map-side. */
  private def q60(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("lang"),
      TextAnalysis.tokenCount(col("text")).as("nt"))
    val bounds = docs.groupBy(col("lang")).agg(
      expr("percentile(nt, 0.1)").as("p10"),
      expr("percentile(nt, 0.9)").as("p90"))
    docs.join(broadcast(bounds), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum((col("nt") >= col("p10") && col("nt") <= col("p90"))
          .cast("long")).as("n_kept"))
      .select(col("lang"), col("n_total"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_total"), 4)
          .as("kept_frac"))
      .orderBy(col("lang"))
  }

  private val q60Sql =
    """WITH d AS (SELECT lang, len(string_split(text, ' ')) AS nt
      |           FROM documents),
      |b AS (SELECT lang, quantile_cont(nt, 0.1) AS p10,
      |        quantile_cont(nt, 0.9) AS p90 FROM d GROUP BY lang)
      |SELECT lang, count(*) AS n_total,
      |  CAST(sum(CASE WHEN nt >= p10 AND nt <= p90 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  round(CAST(sum(CASE WHEN nt >= p10 AND nt <= p90 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 4) AS kept_frac
      |FROM d JOIN b USING (lang) GROUP BY lang ORDER BY lang""".stripMargin

  // the q34 fingerprint fold as oracle-SQL (content hash for splits/samples)
  private val fpSqlExpr =
    """list_reduce(list_prepend(CAST(7 AS BIGINT),
      |     list_transform(string_split(text, ''),
      |       c -> CAST(unicode(c) AS BIGINT))),
      |   (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  /** Deterministic content-hash train/val/test split (80/10/10): the
    * assignment is a pure function of the document text, so it is stable
    * across runs, engines and cluster sizes — the property a training
    * pipeline needs so re-sharding never moves a document across splits
    * (and exact dups always co-locate). */
  private def q49(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        pmod(TextAnalysis.fingerprint(col("text")), lit(100L)).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  private val q49Sql =
    s"""SELECT doc_id, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id, $fpSqlExpr % 100 AS bucket FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Stratified deterministic ~10% sample: per-source totals vs rows whose
    * content-hash bucket is 0 (reproducible sampling without RNG state —
    * a map-side filter at any scale, no shuffle until the tiny summary). */
  private def q50(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        (pmod(TextAnalysis.fingerprint(col("text")), lit(10L)) === 0)
          .cast("long").as("sampled"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"), sum(col("sampled")).as("n_sampled"))
      .orderBy(col("source"))

  private val q50Sql =
    s"""SELECT source, count(*) AS n_total,
       |  CAST(sum(CASE WHEN $fpSqlExpr % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_sampled
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** PII scrub audit: deterministic synthetic PII (emails/phone/IPv4
    * derived from doc_id — the corpus itself is PII-free word soup) is
    * injected, then redacted by the portable-regex scrub pass
    * ([[TextAnalysis.scrubPii]]). Per-category match counts plus the
    * scrubbed length pin the exact match SPANS, not just presence.
    * Zero shuffle until the final orderBy — at 100 TB this is pure
    * map-side work. */
  private def q80(s: SparkSession, d: String): DataFrame = {
    val withPii = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        repeat(lit(" reach me at bob@example.com"),
          pmod(col("doc_id"), lit(3)).cast("int")),
        lit(" call +1 555 010 0100 from 10.0."),
        pmod(col("doc_id"), lit(256)), lit(".7")).as("text"))
    val counts = TextAnalysis.piiCounts(col("text"))
    withPii.select(
        col("doc_id") +: counts.map { case (k, c) => c.as(s"n_$k") } :+
          length(TextAnalysis.scrubPii(col("text"))).as("len_scrubbed"): _*)
      .orderBy(col("doc_id"))
  }

  private val q80Sql = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3}[- ]?[0-9]{2,4}"
    val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    s"""WITH pii AS (SELECT doc_id,
       |  text || repeat(' reach me at bob@example.com',
       |                 CAST(doc_id % 3 AS INT))
       |       || ' call +1 555 010 0100 from 10.0.'
       |       || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$phone')) AS INT) AS n_phone,
       |  CAST(len(regexp_extract_all(text, '$ipv4')) AS INT) AS n_ipv4,
       |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<email>', 'g'),
       |    '$phone', '<phone>', 'g'),
       |    '$ipv4', '<ipv4>', 'g')) AS INT) AS len_scrubbed
       |FROM pii ORDER BY doc_id""".stripMargin
  }

  /** Exact corpus-wide heavy-hitter tokens via the Misra-Gries
    * candidate sketch + exact recount ([[graft.ops.HeavyHitters]]).
    * minFreq=0.034 sits inside the corpus's near-uniform token band, so
    * the sketch capacity (30) is BELOW the vocabulary size (31) and the
    * decrement-all eviction path actually runs. */
  private def q81(s: SparkSession, d: String): DataFrame =
    graft.ops.HeavyHitters.heavyHitterTokens(
      Tables.documents(s, d), minFreq = 0.034)

  private val q81Sql =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |t AS (SELECT token FROM toks WHERE token <> '')
      |SELECT token, count(*) AS cnt FROM t
      |GROUP BY token
      |HAVING count(*) > (SELECT count(*) FROM t) * 0.034
      |ORDER BY cnt DESC, token""".stripMargin

  /** Near-dup pairs with exact duplicates collapsed FIRST
    * ([[Dedup.collapsedNgramJaccardPairs]]): every fourth doc gains an
    * exact twin with an offset id (a realistic web-crawl dup factor —
    * the duplication shape that degrades a direct AllPairs join
    * quadratically), AllPairs runs on unique representatives only, and
    * member pairs are reconstituted through the membership table. The
    * oracle brute-forces the SAME duplicated corpus directly, so the
    * collapse/expand must be row-identical to first principles, not to
    * our own code. (The worst-case duplication probes live in DedupSpec
    * and SCALE.md — benching them here would make the suite timing
    * reflect a deliberate stress shape, not production cost.) */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val duplicated = base.unionByName(
      base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + lit(10000L)).as("doc_id"), col("text")))
    Dedup.collapsedNgramJaccardPairs(duplicated, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q84Sql =
    """WITH dd AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 10000, text FROM documents
      |  WHERE doc_id % 4 = 0),
      |th AS (SELECT doc_id, list_transform(string_split(text, ' '), t ->
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(t, ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM dd),
      |g AS (SELECT doc_id,
      |    list_distinct(list_filter(
      |      list_transform(th, (x, i) ->
      |        CASE WHEN i + 2 <= len(th)
      |             THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
      |                  % 1000000007 END),
      |      z -> z IS NOT NULL)) AS grams
      |  FROM th)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
      |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
      |      6) AS jaccard
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  WHERE len(a.grams) > 0 AND len(b.grams) > 0)
      |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** REAL audio decode (javax.sound WAV/PCM), audio twin of q69: the
    * executors generate a deterministic 16-bit PCM fixture per doc,
    * decode it through the actual audio API, and fold exact integer
    * sample statistics; the oracle replays the generator pattern
    * analytically — one sample read wrong and the RMS/crossing counts
    * drift. RMS is deliberately NOT rounded: both engines sqrt the same
    * exact integer ratio, so the doubles match bit-for-bit, while
    * round() implementations differ at digit boundaries. */
  private def q87(s: SparkSession, d: String): DataFrame =
    Multimodal.audioDecodeStats(s, Tables.documents(s, d)).toDF()
      .orderBy(col("doc_id"))

  private val q87Sql =
    """WITH s AS (SELECT d.doc_id, i.range AS i,
      |    ((d.doc_id*37 + i.range*73) % 4096) - 2048 AS v
      |  FROM documents d, range(0, 256) i WHERE d.doc_id % 3 = 1),
      |x AS (SELECT doc_id, v,
      |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |  FROM s)
      |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
      |  CAST(256 AS BIGINT) AS n_samples,
      |  sqrt(CAST(sum(v*v) AS DOUBLE) / 256.0) AS rms,
      |  CAST(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS zero_crossings
      |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** REAL video decode, completing the q69/q87 trilogy: the executors
    * generate a deterministic MJPEG-in-AVI fixture per doc, walk the REAL
    * RIFF container for the '00dc' frame chunks, decode every JPEG frame
    * through javax.imageio, and fold exact integer channel sums over all
    * decoded pixels. Frame count and geometry are integer functions of
    * doc_id, and the uniform mid-gray frames round-trip bit-exactly
    * through JPEG (all DCT coefficients quantize to zero), so the oracle
    * replays everything analytically — a dropped frame, a misparsed
    * chunk, or one wrong pixel breaks the hash. */
  private def q89(s: SparkSession, d: String): DataFrame =
    Multimodal.videoDecodeStats(s, Tables.documents(s, d)).toDF()
      .orderBy(col("doc_id"))

  private val q89Sql =
    """SELECT doc_id,
      |  CAST(3 + doc_id % 4 AS BIGINT) AS n_frames,
      |  CAST(16 + 8 * (doc_id % 5) AS INT) AS width,
      |  CAST(16 + 8 * (doc_id % 4) AS INT) AS height,
      |  CAST((3 + doc_id % 4) * (16 + 8 * (doc_id % 5))
      |       * (16 + 8 * (doc_id % 4)) AS BIGINT) AS total_pixels,
      |  CAST(128 AS DOUBLE) AS mean_lum
      |FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""".stripMargin

  /** Selective frame sampling via the AVI idx1 index
    * ([[Multimodal.videoFrameSample]]): each video doc decodes ONLY its
    * first, middle, and last frame — the index resolves their byte
    * ranges while the top-level walk hops over the entire `movi`
    * payload in O(1), so per-doc cost is O(3 frames) regardless of
    * video length. The video analog of the COG range-read discipline.
    * Frame indices, geometry, and the uniform-gray mean all replay
    * analytically (same fixture algebra as q89); the three indices are
    * always distinct because every fixture has n >= 3 frames. */
  private def q129(s: SparkSession, d: String): DataFrame =
    Multimodal.videoFrameSample(s, Tables.documents(s, d)).toDF()
      .orderBy(col("doc_id"), col("frame_idx"))

  private val q129Sql =
    """WITH v AS (SELECT doc_id, CAST(3 + doc_id % 4 AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 3 = 2)
      |SELECT doc_id,
      |  CAST(f AS INT) AS frame_idx,
      |  n AS n_frames,
      |  CAST(16 + 8 * (doc_id % 5) AS INT) AS width,
      |  CAST(16 + 8 * (doc_id % 4) AS INT) AS height,
      |  CAST(128 AS DOUBLE) AS mean_lum
      |FROM v, unnest([0, n // 2, n - 1]) AS t(f)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Incremental ingest dedup ([[Dedup.incrementalNearDups]]): a synthetic
    * nightly batch — verbatim re-crawls (every 10th doc), tail-trimmed
    * revisions (doc_id % 10 = 5, last fifth of the tokens dropped), and
    * genuinely fresh content (doc_id % 10 = 7, case-flipped so every
    * shingle hash changes) — joins against the corpus asymmetrically.
    * The oracle brute-forces batch x corpus directly, so the prefix
    * filter and size prune must lose nothing: re-crawls must surface at
    * jaccard 1, revisions above threshold, fresh docs not at all. Token
    * trimming uses integer `div` so both engines slice identically. */
  private def q90(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val recrawl = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 20000L).as("doc_id"), col("text"))
    val trimmed = base.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 30000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          expr("size(split(text, ' ')) - size(split(text, ' ')) div 5")),
          " ").as("text"))
    val fresh = base.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 40000L).as("doc_id"), upper(col("text")).as("text"))
    val batch = recrawl.unionByName(trimmed).unionByName(fresh)
    Dedup.incrementalNearDups(base, batch, threshold = 0.5)
      .orderBy(col("batch_doc"), col("corpus_doc"))
  }

  private val q90Sql =
    """WITH batch AS (
      |  SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 30000,
      |    array_to_string(list_slice(string_split(text, ' '), 1,
      |      len(string_split(text, ' ')) - len(string_split(text, ' ')) // 5), ' ')
      |  FROM documents WHERE doc_id % 10 = 5
      |  UNION ALL
      |  SELECT doc_id + 40000, upper(text) FROM documents WHERE doc_id % 10 = 7),
      |corpus AS (SELECT doc_id, text FROM documents),
      |bth AS (SELECT doc_id, list_transform(string_split(text, ' '), t ->
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(t, ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM batch),
      |cth AS (SELECT doc_id, list_transform(string_split(text, ' '), t ->
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(t, ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM corpus),
      |bg AS (SELECT doc_id,
      |    list_distinct(list_filter(
      |      list_transform(th, (x, i) ->
      |        CASE WHEN i + 2 <= len(th)
      |             THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
      |                  % 1000000007 END),
      |      z -> z IS NOT NULL)) AS grams
      |  FROM bth),
      |cg AS (SELECT doc_id,
      |    list_distinct(list_filter(
      |      list_transform(th, (x, i) ->
      |        CASE WHEN i + 2 <= len(th)
      |             THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
      |                  % 1000000007 END),
      |      z -> z IS NOT NULL)) AS grams
      |  FROM cth)
      |SELECT batch_doc, corpus_doc, jaccard FROM (
      |  SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
      |    round(CAST(len(list_intersect(b.grams, c.grams)) AS DOUBLE) /
      |      (len(b.grams) + len(c.grams) - len(list_intersect(b.grams, c.grams))),
      |      6) AS jaccard
      |  FROM bg b JOIN cg c ON len(b.grams) > 0 AND len(c.grams) > 0)
      |WHERE jaccard >= 0.5 ORDER BY batch_doc, corpus_doc""".stripMargin

  /** Span-level boilerplate scrub ([[TextAnalysis.boilerplateScrub]]):
    * a deterministic footer is injected into every third document (the
    * corpus itself is boilerplate-free word soup, same injection
    * discipline as q80's PII), its 3-grams exceed the 10% document-
    * frequency cap, and every token covered by a flagged gram is
    * removed. The oracle recomputes the hashed-n-gram document
    * frequencies and the positional covered-span logic from first
    * principles. */
  private def q91(s: SparkSession, d: String): DataFrame = {
    val withFooter = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" subscribe to our newsletter today"))
          .otherwise(lit(""))).as("text"))
    TextAnalysis.boilerplateScrub(withFooter, n = 3, maxDocFrac = 0.1)
      .orderBy(col("doc_id"))
  }

  private val q91Sql =
    """WITH d2 AS (SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' subscribe to our newsletter today'
      |         ELSE '' END AS text
      |  FROM documents),
      |t2 AS (SELECT doc_id, string_split(text, ' ') AS w,
      |    list_transform(string_split(text, ' '), t ->
      |      list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        list_transform(string_split(t, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM d2),
      |pg AS (SELECT doc_id, w, list_transform(th, (x, i) ->
      |    CASE WHEN i + 2 <= len(th)
      |         THEN ((x * 131 + th[i+1]) % 1000000007 * 131 + th[i+2])
      |              % 1000000007 END) AS pg
      |  FROM t2),
      |dfg AS (SELECT gram, count(DISTINCT doc_id) AS df FROM (
      |    SELECT doc_id, unnest(list_filter(pg, g -> g IS NOT NULL)) AS gram
      |    FROM pg)
      |  GROUP BY gram),
      |bad AS (SELECT coalesce(list(gram), []) AS bad FROM dfg
      |  WHERE df > (SELECT count(*) FROM documents) * 0.1),
      |fl AS (SELECT doc_id, w,
      |    list_transform(pg, g -> g IS NOT NULL AND list_contains(bad, g))
      |      AS flags
      |  FROM pg CROSS JOIN bad)
      |SELECT doc_id,
      |  CAST(len(list_filter(flags, f -> f)) AS INT) AS n_flagged,
      |  CAST(len(kept) AS INT) AS n_tokens_kept,
      |  array_to_string(kept, ' ') AS text_scrubbed
      |FROM (SELECT doc_id, flags,
      |    list_filter(list_transform(w, (t, i) ->
      |      CASE WHEN len(list_filter(list_slice(flags,
      |             CASE WHEN i - 2 > 1 THEN i - 2 ELSE 1 END, i),
      |             f -> f)) > 0
      |           THEN NULL ELSE t END), x -> x IS NOT NULL) AS kept
      |  FROM fl)
      |ORDER BY doc_id""".stripMargin

  /** Fixed-budget chunking with overlap ([[TextAnalysis.chunkByTokens]]):
    * 48-token chunks, 8-token overlap (stride 40). The oracle replays
    * the start-sequence rule with generate_series and list_slice. */
  private def q92(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkByTokens(Tables.documents(s, d), budget = 48, overlap = 8)
      .orderBy(col("doc_id"), col("chunk_id"))

  private val q92Sql =
    """SELECT doc_id, (s - 1) // 40 AS chunk_id, CAST(s AS INT) AS start,
      |  CAST(len(list_slice(w, s, s + 47)) AS INT) AS n_tokens,
      |  array_to_string(list_slice(w, s, s + 47), ' ') AS chunk_text
      |FROM (SELECT doc_id, w, unnest(generate_series(1,
      |        CASE WHEN len(w) - 8 > 1 THEN len(w) - 8 ELSE 1 END, 40)) AS s
      |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Top-3 distinctive terms per document by linear-idf TF-IDF
    * ([[TextAnalysis.tfidfTopTerms]]; score = tf*N/df is an IEEE-exact
    * integer ratio, so the doubles — and therefore the ranking — are
    * bit-identical in both engines). */
  private def q93(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidfTopTerms(Tables.documents(s, d), k = 3)
      .orderBy(col("doc_id"), col("rank"))

  private val q93Sql =
    """WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |    FROM documents)
      |  GROUP BY doc_id, token),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (SELECT doc_id, token, tf, df,
      |    CAST(tf * n_docs AS DOUBLE) / df AS score
      |  FROM tf JOIN df USING (token) CROSS JOIN n)
      |SELECT doc_id, token, tf, df, score, rank FROM (
      |  SELECT *, row_number() OVER (
      |      PARTITION BY doc_id ORDER BY score DESC, token) AS rank
      |  FROM s)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Language-mixture resampling ([[graft.ops.Sampling.mixtureResample]]):
    * rebalance the corpus toward a 40/15/15/15/15 en/de/es/fr/zh mixture
    * with integer-exact rates and content-hash keep decisions. */
  private def q94(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.mixtureResample(Tables.documents(s, d), "lang",
      Seq("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15))
      .orderBy(col("lang"))

  private val q94Sql =
    s"""WITH n AS (SELECT count(*) AS n_total FROM documents),
       |c AS (SELECT lang, count(*) AS n_bucket FROM documents GROUP BY lang),
       |t(lang, pct) AS (VALUES ('en', 40), ('de', 15), ('es', 15),
       |  ('fr', 15), ('zh', 15)),
       |r AS (SELECT c.lang, n_bucket, (pct * n_total) // 100 AS desired_n,
       |    least(1000000, ((pct * n_total) // 100) * 1000000 // n_bucket)
       |      AS thresh
       |  FROM c JOIN t USING (lang) CROSS JOIN n)
       |SELECT d.lang, r.n_bucket, r.desired_n,
       |  CAST(sum(CASE WHEN ($fpSqlExpr) % 1000000 < r.thresh
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       |FROM documents d JOIN r ON d.lang = r.lang
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  /** Oracle-SQL fragment: the three-round portable avalanche hash of
    * expression `in` as a CTE chain named `$prefix` reading from `$from`,
    * carrying columns `keep` alongside (mirrors Sketches.portableHash —
    * the same literals as the q117 HLL replay). The first round folds
    * through `(x % P + P) % P` because DuckDB's % is sign-preserving
    * where Spark's pmod is not — a negative id must land in [0, P) on
    * both engines; later rounds only ever see non-negatives. */
  private def hashCtes(prefix: String, from: String, in: String,
      keep: String): String =
    s"""${prefix}0 AS (SELECT $keep,
       |    (((($in) % 1000000007 + 1000000007) % 1000000007)
       |      * 2654435761) % 1000000007 AS h
       |  FROM $from),
       |${prefix}1 AS (SELECT $keep,
       |    ((h + h // 8192) * 972663749) % 1000000007 AS h FROM ${prefix}0),
       |$prefix AS (SELECT $keep,
       |    ((h + h // 8192) * 468703703) % 1000000007 AS h FROM ${prefix}1)"""
      .stripMargin

  /** Deterministic global shuffle ([[Assembly.deterministicShuffle]]):
    * shuffle_pos = exact global rank by (portableHash(doc_id + seed),
    * doc_id), assigned by range-repartition + count-and-offset — never a
    * single-partition sort. The oracle is the definitional row_number
    * over the same hash. */
  private def q157(s: SparkSession, d: String): DataFrame =
    Assembly.deterministicShuffle(Tables.documents(s, d), "doc_id",
        seed = 42L)
      .select(col("doc_id"), col("shuffle_pos"))
      .orderBy(col("doc_id"))

  private val q157Sql =
    s"""WITH ${hashCtes("sh", "documents", "doc_id + 42", "doc_id")}
       |SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT)
       |    AS shuffle_pos
       |FROM sh ORDER BY doc_id""".stripMargin

  /** Leakage-safe split ([[Assembly.leakageSafeSplit]]): the assignment
    * unit is the q53 near-dup cluster — every member hashes its cluster
    * representative, so near-dups can never straddle train/eval (the
    * leak q49's per-doc hash split cannot rule out). The oracle replays
    * the full clustering chain, then the hash + integer cutoffs. */
  private def q158(s: SparkSession, d: String): DataFrame =
    Assembly.leakageSafeSplit(Tables.documents(s, d), seed = 7L)
      .orderBy(col("doc_id"))

  private val q158Cuts = Assembly.splitCutoffs(
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  private val q158Sql =
    s"""WITH RECURSIVE ${mat(thCte)},
       |${mat(gramsCte)},
       |${mat(sigCte)},
       |$minhashBandCtes,
       |$candCte,
       |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
       |      UNION ALL SELECT doc_b, doc_a FROM cand),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |walk(id, lbl) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.a, w.lbl FROM e JOIN walk w ON w.id = e.b),
       |labels AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
       |rep AS (SELECT d.doc_id,
       |    coalesce(l.cluster_id, d.doc_id) AS cluster_rep
       |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
       |${hashCtes("sp", "rep", "cluster_rep + 7", "doc_id, cluster_rep")}
       |SELECT doc_id, cluster_rep,
       |  CASE WHEN h < ${q158Cuts(0)._2} THEN '${q158Cuts(0)._1}'
       |       WHEN h < ${q158Cuts(1)._2} THEN '${q158Cuts(1)._1}'
       |       ELSE '${q158Cuts(2)._1}' END AS split
       |FROM sp ORDER BY doc_id""".stripMargin

  /** Token-budget shard manifest ([[Assembly.tokenBudgetShards]] +
    * [[Assembly.shardManifest]]): contiguous ~2k-token shards in
    * deterministic-shuffle order, summarized as (n_docs, n_tokens,
    * xor-of-hashes membership checksum). The running token sum is a
    * two-phase scan in Spark; the oracle is the definitional single
    * cumulative window. */
  private def q159(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("tok", size(split(col("text"), " ")).cast("long"))
    val sharded = Assembly.tokenBudgetShards(docs, "doc_id", "tok",
      budget = 2000L, seed = 42L)
    Assembly.shardManifest(sharded, "doc_id", "tok")
      .orderBy(col("shard_id"))
  }

  private val q159Sql =
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |${hashCtes("sh", "t", "doc_id + 42", "doc_id, tok")},
       |c AS (SELECT doc_id, tok,
       |    sum(tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
       |      AS cum
       |  FROM sh),
       |s AS (SELECT doc_id, tok,
       |    CAST((cum - tok) // 2000 AS BIGINT) AS shard_id FROM c),
       |${hashCtes("hc", "s", "doc_id", "shard_id, tok")}
       |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  bit_xor(h) AS checksum
       |FROM hc GROUP BY shard_id ORDER BY shard_id""".stripMargin

  /** The q160/q161 data recipe: src0..src3 weighted 40/30/20/10 toward
    * a 12k-token budget — at the fixture's ~1.3-1.6k tokens per source
    * that plans 3/2/1/0 full epochs, so every branch (multi-repeat,
    * single-pass, partial-only) is exercised. */
  private val epochWeights = Seq("src0" -> 40, "src1" -> 30,
    "src2" -> 20, "src3" -> 10)
  private val epochBudget = 12000L

  private val epochWeightValues = epochWeights
    .map { case (s, w) => s"('$s', $w)" }.mkString(", ")
  /** Shared oracle CTE chain ending in `plan` = one row per weighted
    * source with (n_docs, n_tokens, weight, target_tokens, epochs,
    * rem_tokens, keep_ppm) — the literal integer-division replay of
    * [[Assembly.epochPlan]]. */
  private val epochPlanCtes =
    s"""tk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |w(source, weight) AS (VALUES $epochWeightValues),
       |tg AS (SELECT source, n_docs, n_tokens, weight,
       |    (CAST($epochBudget AS BIGINT) * weight)
       |      // ${epochWeights.map(_._2).sum} AS target_tokens
       |  FROM tk JOIN w USING (source)),
       |ep AS (SELECT *, CASE WHEN n_tokens > 0
       |      THEN target_tokens // n_tokens ELSE 0 END AS epochs FROM tg),
       |plan AS (SELECT *, target_tokens - epochs * n_tokens AS rem_tokens,
       |    CASE WHEN n_tokens > 0
       |      THEN ((target_tokens - epochs * n_tokens) * 1000000)
       |           // n_tokens
       |      ELSE 0 END AS keep_ppm
       |  FROM ep)""".stripMargin

  /** Multi-epoch data recipe ([[Assembly.epochPlan]]): per-source full
    * repeats + partial-epoch ppm toward a weighted token budget — pure
    * integer arithmetic, replayed literally by the oracle. */
  private def q160(s: SparkSession, d: String): DataFrame =
    Assembly.epochPlan(
      Tables.documents(s, d)
        .withColumn("tok", size(split(col("text"), " ")).cast("long")),
      "source", "tok", epochWeights, epochBudget)
      .orderBy(col("source"))

  private val q160Sql =
    s"""WITH $epochPlanCtes
       |SELECT source, n_docs, n_tokens, weight, target_tokens, epochs,
       |  rem_tokens, keep_ppm
       |FROM plan ORDER BY source""".stripMargin

  /** Materialized recipe ([[Assembly.expandEpochs]]): one row per
    * (doc, epoch) — full repeats plus the hash-sampled partial epoch.
    * The oracle unnests generate_series(0, maxe), which is empty for
    * maxe = -1 exactly as the Spark filter drops those rows. */
  private def q161(s: SparkSession, d: String): DataFrame =
    Assembly.expandEpochs(
      Tables.documents(s, d)
        .withColumn("tok", size(split(col("text"), " ")).cast("long")),
      "source", "doc_id", "tok", epochWeights, epochBudget, seed = 11L)
      .orderBy(col("doc_id"), col("epoch"))

  private val q161Sql =
    s"""WITH $epochPlanCtes,
       |dj AS (SELECT doc_id, d0.source, epochs, keep_ppm
       |  FROM documents d0 JOIN plan USING (source)),
       |${hashCtes("eh", "dj", "doc_id + 11",
         "doc_id, source, epochs, keep_ppm")},
       |mx AS (SELECT doc_id, source,
       |    CASE WHEN h % 1000000 < keep_ppm THEN epochs
       |         ELSE epochs - 1 END AS maxe
       |  FROM eh)
       |SELECT doc_id, source,
       |  unnest(generate_series(0, maxe)) AS epoch
       |FROM mx ORDER BY doc_id, epoch""".stripMargin

  /** One committed write+append shard store per SF dir (the
    * ingestIndexDirs discipline): q162 pins its manifest, q164 sweeps
    * it — the lifecycle runs once, not once per query. */
  private val assemblyStoreDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def assemblyStore(s: SparkSession, d: String): String =
    assemblyStoreDirs.getOrElseUpdate(d, {
      val docs = Tables.documents(s, d)
        .withColumn("tok", size(split(col("text"), " ")).cast("long"))
      val out = java.nio.file.Files.createTempDirectory("shappend")
        .toString
      Assembly.writeShards(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "tok", budget = 2000L, seed = 42L, outDir = out)
      Assembly.appendShards(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "tok", out)
      out
    })

  /** Incremental sharded export ([[Assembly.writeShards]] then
    * [[Assembly.appendShards]]): batch A (docs with doc_id % 3 <> 0)
    * lands first, batch B appends as NEW shards continuing after A's
    * maximum — the full lifecycle runs against a temp directory, and
    * the oracle replays both phases' shard cuts and the merged
    * manifest. */
  private def q162(s: SparkSession, d: String): DataFrame =
    Assembly.readManifest(s, assemblyStore(s, d)).orderBy(col("shard_id"))

  /** Shared oracle CTE chain for the q162/q164 shard-store lifecycle:
    * batch A (doc_id % 3 <> 0) sharded at budget 2000 / seed 42, batch B
    * appended with ids continuing after A's max — ends in `sj` =
    * (doc_id, tok, shard_id). The budget/seed literals live HERE and in
    * [[assemblyStore]] only. */
  private val shardLifecycleCtes =
    s"""t AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |${hashCtes("sh", "t", "doc_id + 42", "doc_id, tok")},
       |bt AS (SELECT doc_id, tok, h,
       |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS grp FROM sh),
       |c AS (SELECT doc_id, tok, grp,
       |    sum(tok) OVER (PARTITION BY grp ORDER BY h, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM bt),
       |s0 AS (SELECT doc_id, tok, grp,
       |    CAST((cum - tok) // 2000 AS BIGINT) AS sid FROM c),
       |ma AS (SELECT max(sid) AS m FROM s0 WHERE grp = 0),
       |sj AS (SELECT doc_id, tok,
       |    CASE WHEN grp = 0 THEN sid ELSE sid + m + 1 END AS shard_id
       |  FROM s0 CROSS JOIN ma)""".stripMargin

  private val q162Sql =
    s"""WITH $shardLifecycleCtes,
       |${hashCtes("hc", "sj", "doc_id", "shard_id, tok")}
       |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  bit_xor(h) AS checksum
       |FROM hc GROUP BY shard_id ORDER BY shard_id""".stripMargin

  /** The full last-mile composition ([[Assembly.trainingOrder]]): the
    * q160 recipe expanded to (doc, epoch) copies, each ranked globally
    * by the portable hash of its composite sample id — the exact,
    * reproducible stream a trainer consumes. The oracle replays recipe,
    * expansion, composite ids, and the global rank. */
  private def q163(s: SparkSession, d: String): DataFrame =
    Assembly.trainingOrder(
      Tables.documents(s, d)
        .withColumn("tok", size(split(col("text"), " ")).cast("long")),
      "source", "doc_id", "tok", epochWeights, epochBudget, seed = 11L)
      .orderBy(col("doc_id"), col("epoch"))

  private val q163Sql =
    s"""WITH $epochPlanCtes,
       |dj AS (SELECT doc_id, d0.source, epochs, keep_ppm
       |  FROM documents d0 JOIN plan USING (source)),
       |${hashCtes("eh", "dj", "doc_id + 11",
         "doc_id, source, epochs, keep_ppm")},
       |mx AS (SELECT doc_id, source,
       |    CASE WHEN h % 1000000 < keep_ppm THEN epochs
       |         ELSE epochs - 1 END AS maxe
       |  FROM eh),
       |ex AS (SELECT doc_id, source,
       |    unnest(generate_series(0, maxe)) AS epoch FROM mx),
       |sm AS (SELECT doc_id, source, epoch,
       |    doc_id * 1001 + epoch AS sample_id FROM ex),
       |${hashCtes("oh", "sm", "sample_id + 11",
         "doc_id, source, epoch, sample_id")}
       |SELECT doc_id, source, epoch,
       |  CAST(row_number() OVER (ORDER BY h, sample_id) - 1 AS BIGINT)
       |    AS shuffle_pos
       |FROM oh ORDER BY doc_id, epoch""".stripMargin

  /** Shard-store QA sweep ([[Assembly.validateShards]]): a fresh
    * write+append store must validate clean — and the oracle
    * independently derives WHICH shard rows must exist (the full q162
    * two-phase manifest replay), so the check is not vacuous: a shard
    * the sweep missed, or a phantom row, hash-mismatches. Corruption
    * paths (missing files, drifted content) are spec-pinned. */
  private def q164(s: SparkSession, d: String): DataFrame =
    Assembly.validateShards(s, assemblyStore(s, d), "doc_id", "tok")
      .orderBy(col("shard_id"))

  private val q164Sql =
    s"""WITH $shardLifecycleCtes
       |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  TRUE AS ok, 'ok' AS reason
       |FROM sj GROUP BY shard_id ORDER BY shard_id""".stripMargin
}
