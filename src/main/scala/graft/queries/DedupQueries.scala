package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Deduplication surface: exact, MinHash+LSH, n-gram Jaccard, SimHash.
  * Oracles re-derive every hash from md5 in DuckDB, so signatures and
  * candidate pairs are checked value-for-value, not just by count.
  */
object DedupQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def normSql(c: String) = TextQueries.normSql(c)

  /** DuckDB: distinct word-`n`-gram shingles of a `toks` list — twin
    * of [[graft.functions.TextFunctions.wordShinglesFromToks]] (shared
    * with the decontamination oracle, q73/s33, which probes 5-grams).
    */
  private[queries] def shinglesSqlN(n: Int): String = {
    val concat = (0 until n).map(o => s"toks[CAST(i+$o AS INT)]").mkString(" || ' ' || ")
    s"""list_distinct(CASE WHEN len(toks) < $n
       |  THEN [list_aggregate(toks, 'string_agg', ' ')]
       |  ELSE list_transform(range(1, len(toks) - ${n - 2}),
       |    i -> $concat) END)""".stripMargin
  }

  /** DuckDB: distinct word-3-gram shingles of `norm`/`toks`. */
  private[queries] val shinglesSql = shinglesSqlN(3)

  /** DuckDB: minhash k=8 signature of a shingle list `sh`. */
  private def sigSql(sh: String): String =
    (0 until 8).map { k =>
      s"list_aggregate(list_transform($sh, x -> md5('$k:' || x)), 'min')"
    }.mkString("[", ", ", "]")

  /** CTE chain (no leading WITH, margins already stripped) deriving
    * minhash-LSH candidate pairs over `src` — any relation exposing
    * (doc_id, text). Final relation `<p>pairs` has
    * (id_a, id_b, est_jaccard ≥ threshold). Shared by q31, q61 and
    * q48 so the pair derivation exists exactly once in oracle SQL.
    */
  /** Fraction of equal minhash positions between relations `a`/`b`
    * (estimated Jaccard) — one SQL spelling shared by every consumer.
    */
  private def estJaccardSql: String =
    "CAST(len(list_filter(range(1, 9), i -> a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)])) AS DOUBLE) / 8"

  /** CTE chain up to the exploded band rows: final relation `<p>ex`
    * has (doc_id, sig, band_key) — the shared front of the batch pair
    * derivation (global bucket cap) and the streaming online form
    * (first-N admission cap, s29).
    */
  private[queries] def minhashExCtes(p: String, src: String): String = {
    val bandKeys = (0 until 4).map { b =>
      s"md5('$b' || ',' || sig[${2 * b + 1}] || ',' || sig[${2 * b + 2}])"
    }.mkString("[", ", ", "]")
    s"""${p}tk AS (
       |  SELECT doc_id, string_split(${normSql("text")}, ' ') AS toks FROM $src),
       |${p}sh AS (SELECT doc_id, $shinglesSql AS sh FROM ${p}tk),
       |${p}sg AS (SELECT doc_id, ${sigSql("sh")} AS sig FROM ${p}sh),
       |${p}ex AS (SELECT doc_id, sig, unnest($bandKeys) AS band_key FROM ${p}sg)""".stripMargin
  }

  private[queries] def minhashPairsCtes(p: String, src: String,
      threshold: Double): String =
    s"""${minhashExCtes(p, src)},
       |${p}bd AS (SELECT *, COUNT(*) OVER (PARTITION BY band_key) AS bucket_n FROM ${p}ex),
       |${p}ok AS (SELECT * FROM ${p}bd WHERE bucket_n <= 64),
       |${p}pairs AS (
       |  SELECT id_a, id_b, est_jaccard FROM (
       |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |      $estJaccardSql AS est_jaccard
       |    FROM ${p}ok a JOIN ${p}ok b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |  WHERE est_jaccard >= $threshold)""".stripMargin

  /** CTE chain deriving simhash near-dup pairs over `src`; final
    * relation `<p>pairs` has (id_a, id_b, hamming ≤ maxHamming).
    */
  private[queries] def simhashPairsCtes(p: String, src: String,
      maxHamming: Int): String =
    s"""${p}tk AS (
       |  SELECT doc_id, string_split(${normSql("text")}, ' ') AS toks FROM $src),
       |${p}hs AS (
       |  SELECT doc_id, list_transform(toks, tok ->
       |    CAST(list_sum(list_transform(range(0, 8),
       |      c -> (strpos('0123456789abcdef', substr(md5(tok), CAST(c + 1 AS INT), 1)) - 1)
       |           * CAST(power(16, 7 - c) AS BIGINT))) AS BIGINT)) AS hashes
       |  FROM ${p}tk),
       |${p}sm AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 32), j -> CASE WHEN
       |      list_sum(list_transform(hashes, h ->
       |        CASE WHEN (h >> CAST(31 - j AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN CAST(power(2, 31 - j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
       |  FROM ${p}hs),
       |${p}bd AS (
       |  SELECT doc_id, simhash, b.b AS band, (simhash >> CAST(8 * b.b AS INT)) & 255 AS band_val
       |  FROM ${p}sm, (SELECT unnest([0, 1, 2, 3]) AS b) b),
       |${p}pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM ${p}bd a JOIN ${p}bd b ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming)""".stripMargin

  /** CTE chain resolving an undirected pair relation `<pairsRel>`
    * (id_a, id_b) into connected components by transitive closure —
    * the DuckDB twin of [[Dedup.connectedComponents]]. Final relation
    * `<p>cl` has (id, cluster_id = component minimum). The enclosing
    * query must start WITH RECURSIVE.
    */
  private[queries] def closureCtes(p: String, pairsRel: String): String =
    s"""${p}pe AS (SELECT id_a AS a, id_b AS b FROM $pairsRel),
       |${p}ed AS (SELECT a, b FROM ${p}pe UNION SELECT b, a FROM ${p}pe),
       |${p}reach(id, m) AS (
       |  SELECT a, b FROM ${p}ed
       |  UNION
       |  SELECT r.id, e.b FROM ${p}reach r JOIN ${p}ed e ON e.a = r.m),
       |${p}cl AS (SELECT id, LEAST(id, MIN(m)) AS cluster_id FROM ${p}reach GROUP BY id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------ q29 exact dedup
    QueryDef(
      "q29_dedup_exact",
      (s, d) =>
        Dedup.exactDedup(docs(s, d), "doc_id", "text")
          .orderBy(col("content_hash")),
      Some(s"""SELECT md5(${normSql("text")}) AS content_hash,
              |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
              |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------- q30 minhash signatures
    QueryDef(
      "q30_minhash_sig",
      (s, d) => {
        // sort-before-project (the q24 pattern): sort the base table on
        // doc_id, derive the signatures after the exchange — the range
        // sampling pass re-reads only the scan instead of re-evaluating
        // the shingle+minhash chain, and the projection is 1:1 so the
        // sorted order is preserved
        val sig = Dedup.minhashSignatures(
          docs(s, d).orderBy(col("doc_id")), "doc_id", "text", 3, 8)
        sig.select(col("doc_id") +:
          (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
      },
      Some {
        val cols = (0 until 8).map(i => s"sig[${i + 1}] AS m$i").mkString(", ")
        s"""WITH tk AS (
           |  SELECT doc_id, string_split(${normSql("text")}, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shinglesSql AS sh FROM tk),
           |sg AS (SELECT doc_id, ${sigSql("sh")} AS sig FROM sh)
           |SELECT doc_id, $cols FROM sg ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------- q31 minhash LSH candidate pairs
    QueryDef(
      "q31_minhash_pairs",
      (s, d) =>
        Dedup.minhashLshPairs(docs(s, d), "doc_id", "text",
          shingleN = 3, k = 8, bands = 4, threshold = 0.25, maxBucketSize = 64)
          .orderBy(col("id_a"), col("id_b")),
      Some("WITH " + minhashPairsCtes("mh_", "documents", 0.25) +
        "\nSELECT id_a, id_b, est_jaccard FROM mh_pairs ORDER BY id_a, id_b")),

    // --------------------------------------- q32 exact n-gram Jaccard
    QueryDef(
      "q32_ngram_jaccard",
      (s, d) =>
        Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", "lang",
          shingleN = 3, threshold = 0.02)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH tk AS (
              |  SELECT doc_id, lang AS block, string_split(${normSql("text")}, ' ') AS toks FROM documents),
              |sh AS (SELECT doc_id, block, $shinglesSql AS shingles FROM tk),
              |ex AS (SELECT doc_id, block, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
              |pairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
              |  FROM ex a JOIN ex b ON a.block = b.block AND a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2, 3, 4)
              |SELECT id_a, id_b,
              |  round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) AS jaccard
              |FROM pairs WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.02
              |ORDER BY id_a, id_b""".stripMargin)),

    // ---------------------------------------------------- q33 simhash
    QueryDef(
      "q33_simhash",
      (s, d) =>
        Dedup.simhashDocs(docs(s, d), "doc_id", "text")
          .orderBy(col("doc_id")),
      Some(s"""WITH tk AS (
              |  SELECT doc_id, string_split(${normSql("text")}, ' ') AS toks FROM documents),
              |hs AS (
              |  SELECT doc_id, list_transform(toks, tok ->
              |    CAST(list_sum(list_transform(range(0, 8),
              |      c -> (strpos('0123456789abcdef', substr(md5(tok), CAST(c + 1 AS INT), 1)) - 1)
              |           * CAST(power(16, 7 - c) AS BIGINT))) AS BIGINT)) AS hashes
              |  FROM tk)
              |SELECT doc_id,
              |  CAST(list_sum(list_transform(range(0, 32), j -> CASE WHEN
              |    list_sum(list_transform(hashes, h ->
              |      CASE WHEN (h >> CAST(31 - j AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
              |    THEN CAST(power(2, 31 - j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
              |FROM hs ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------- q34 simhash near-dup pairs
    QueryDef(
      "q34_simhash_pairs",
      (s, d) =>
        Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 6)
          .orderBy(col("id_a"), col("id_b")),
      Some("WITH " + simhashPairsCtes("sp_", "documents", 6) +
        "\nSELECT id_a, id_b, hamming FROM sp_pairs ORDER BY id_a, id_b")),

    // ----------------- q61 near-dup cluster resolution (pairs → clusters)
    // Connected components over the UNION of the minhash-LSH and
    // simhash near-dup pair graphs — the step that turns candidate
    // pairs into an actionable dedup decision (transitive duplicates
    // A~B~C with A≁C collapse into one cluster; without it they
    // survive any pairwise keep-list). Engine: alternating large-star/
    // small-star to fixpoint; oracle: DuckDB recursive transitive
    // closure over the identical pair SQL.
    QueryDef(
      "q61_neardup_clusters",
      (s, d) => {
        val dd = docs(s, d)
        val mh = Dedup.minhashLshPairs(dd, "doc_id", "text",
          shingleN = 3, k = 8, bands = 4, threshold = 0.25, maxBucketSize = 64)
          .select(col("id_a"), col("id_b"))
        val sp = Dedup.simhashPairs(dd, "doc_id", "text", maxHamming = 6)
          .select(col("id_a"), col("id_b"))
        val cc = Dedup.connectedComponents(mh.unionByName(sp), "id_a", "id_b")
        val sizes = cc.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "cluster_id")
          .select(col("id").as("doc_id"), col("cluster_id"),
            col("cluster_size"),
            (col("id") === col("cluster_id")).as("is_canonical"))
          .orderBy(col("doc_id"))
      },
      Some("WITH RECURSIVE " +
        minhashPairsCtes("mh_", "documents", 0.25) + ",\n" +
        simhashPairsCtes("sp_", "documents", 6) + ",\n" +
        """u_pairs AS (
          |  SELECT id_a, id_b FROM mh_pairs UNION SELECT id_a, id_b FROM sp_pairs),
          |""".stripMargin +
        closureCtes("cc_", "u_pairs") + ",\n" +
        """sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc_cl GROUP BY 1)
          |SELECT cc_cl.id AS doc_id, cc_cl.cluster_id, sz.cluster_size,
          |  cc_cl.id = cc_cl.cluster_id AS is_canonical
          |FROM cc_cl JOIN sz USING (cluster_id)
          |ORDER BY doc_id""".stripMargin)),

    // ------------- s29 streaming incremental near-dup dedup (D1×LSH)
    // The ingestion-time form of q31: documents arrive as a stream and
    // are flagged near-dup ONLINE against the already-admitted corpus,
    // per LSH band bucket, in transformWithState ListState (RocksDB).
    // Single-data-batch rows process in doc_id order, so the oracle is
    // the pair derivation restricted to "a earlier than b in the
    // bucket, a among the bucket's first-64 admitted ids" — the online
    // skew cap, vs the batch q31's whole-bucket drop. The cross-batch
    // schedule (state admission across micro-batches) is pinned by
    // StreamNearDup.foldBucket, shared verbatim with the multi-batch
    // model test.
    QueryDef(
      "s29_stream_neardup",
      (s, d) => {
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents)
        val flags = graft.streaming.StreamNearDup.stage(
          graft.streaming.StreamNearDup.bandedDocs(stream))
        graft.streaming.StreamRunner.runToMemory(flags.toDF(), "append")
          .groupBy(col("doc_id"))
          .agg(sum(col("hit").cast("int")).as("n_hit_bands"))
          .select(col("doc_id"), col("n_hit_bands"),
            (col("n_hit_bands") > 0).as("is_near_dup"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${minhashExCtes("nd_", "documents")},
              |nd_vs AS (SELECT * FROM nd_ex WHERE sig[1] IS NOT NULL),
              |nd_rk AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY band_key ORDER BY doc_id) AS rn
              |  FROM nd_vs),
              |nd_hit AS (
              |  SELECT b.doc_id, b.band_key,
              |    MAX(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS hit
              |  FROM nd_rk b LEFT JOIN nd_rk a
              |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id AND a.rn <= 64
              |    AND $estJaccardSql >= 0.25
              |  GROUP BY 1, 2)
              |SELECT doc_id, CAST(SUM(hit) AS BIGINT) AS n_hit_bands,
              |  SUM(hit) > 0 AS is_near_dup
              |FROM nd_hit GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ---- s30 multi-batch streaming near-dup under the hard oracle
    // s29's cross-batch schedule — state admission carried across
    // micro-batches, the admission cap spanning batches — under the
    // DuckDB oracle, not just the Scala model: documents arrive as 3
    // micro-batches split by doc_id % 3 (the s11 incremental-arrival
    // fixture generalized to the documents table), so the engine's
    // processing order per bucket is (batch, doc_id) lexicographic and
    // the oracle's admission rank is ROW_NUMBER over exactly that
    // order. A document in batch 1 is probed against batch-0
    // admissions with LARGER doc_ids — the regime the single-batch s29
    // oracle structurally cannot produce (there, arrival order IS
    // doc_id order). foldBucket admits until the cap regardless of hit
    // status, so "admitted" = global rank ≤ 64 in processing order on
    // both sides.
    QueryDef(
      "s30_stream_neardup_multibatch",
      (s, d) => {
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents,
          batches = 3, splitBy = "doc_id")
        val flags = graft.streaming.StreamNearDup.stage(
          graft.streaming.StreamNearDup.bandedDocs(stream))
        graft.streaming.StreamRunner.runToMemory(flags.toDF(), "append")
          .groupBy(col("doc_id"))
          .agg(sum(col("hit").cast("int")).as("n_hit_bands"))
          .select(col("doc_id"), col("n_hit_bands"),
            (col("n_hit_bands") > 0).as("is_near_dup"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${minhashExCtes("nd_", "documents")},
              |nd_vs AS (SELECT * FROM nd_ex WHERE sig[1] IS NOT NULL),
              |nd_rk AS (
              |  SELECT *, ROW_NUMBER() OVER (
              |    PARTITION BY band_key ORDER BY doc_id % 3, doc_id) AS rn
              |  FROM nd_vs),
              |nd_hit AS (
              |  SELECT b.doc_id, b.band_key,
              |    MAX(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS hit
              |  FROM nd_rk b LEFT JOIN nd_rk a
              |    ON a.band_key = b.band_key AND a.rn < b.rn AND a.rn <= 64
              |    AND $estJaccardSql >= 0.25
              |  GROUP BY 1, 2)
              |SELECT doc_id, CAST(SUM(hit) AS BIGINT) AS n_hit_bands,
              |  SUM(hit) > 0 AS is_near_dup
              |FROM nd_hit GROUP BY 1 ORDER BY doc_id""".stripMargin)))
}
