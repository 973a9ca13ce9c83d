package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.QuotaSample

/** Training-data mixing surface: deterministic sampling (rate- and
  * quota-based), token-stream sequence packing, and intra-document
  * repetition signals — the operators that turn a deduplicated corpus
  * into an actual pretraining mix. The reference's analogue is the
  * per-record routing/filtering stage of its topology
  * (LabToFhirProcessor routing + filter guards); the mixing semantics
  * themselves are the LLM-pipeline extension the builder prompt asks
  * for as first-class.
  *
  * All randomness is md5-derived (the repo-wide rule — the only
  * cross-engine-reproducible randomness), so every sample is a pure
  * function of the row: re-running the pipeline, or running it on a
  * different cluster/partitioning, keeps byte-identical mixes.
  */
object MixQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** DuckDB: first 4 hex chars of md5(expr) as a BIGINT in [0, 2^16) —
    * oracle twin of the Spark-side `conv(substring(md5(.),1,4),16,10)`.
    */
  private def md5U16Sql(expr: String): String =
    s"""CAST(list_sum(list_transform(range(0, 4), c ->
       |    (strpos('0123456789abcdef', substr(md5($expr), CAST(c + 1 AS INT), 1)) - 1)
       |    * CAST(power(16, 3 - c) AS BIGINT))) AS BIGINT)""".stripMargin

  /** Tokens per training pack for q71 (small so the sf0.001 fixture
    * already exercises multi-doc packs and split docs).
    */
  private val PackTokens = 128

  /** Decontamination shingle width (q73/s33): word-5-grams. */
  private val DecontamN = 5

  /** Per-source token budget for s34/s35 (≈ half of a source's tokens
    * in the fixture, so both admitted and rejected regimes populate).
    */
  private val TokenBudget = 700L

  /** Span explode shared by every packing surface (q71 batch window,
    * s36/s37 streaming positions, q75 curated mix): given per-doc
    * token positions (source, doc_id, tok_start, tok_end), emit one
    * row per (doc, pack) span with the in-doc token range. Narrow —
    * sequence() spans at most ceil(n_tok/B)+1 pack ids per doc.
    */
  private def packSpans(pos: DataFrame): DataFrame = {
    val B = PackTokens
    pos
      .withColumn("pack_id",
        explode(sequence(expr(s"tok_start div $B"), expr(s"(tok_end - 1) div $B"))))
      .select(col("source"), col("pack_id"), col("doc_id"),
        (greatest(col("tok_start"), col("pack_id") * B) - col("tok_start"))
          .as("tok_from"),
        (least(col("tok_end"), (col("pack_id") + 1) * B) -
          greatest(col("tok_start"), col("pack_id") * B)).as("n_toks"))
      .orderBy(col("source"), col("pack_id"), col("doc_id"))
  }

  /** Oracle CTE chain (prefix sum → span explode) over a relation
    * `base`(source, doc_id, n_tok), parameterized by the engine's
    * per-source processing order — `doc_id` for batch and
    * single-batch streams, `(doc_id % 3, doc_id)` for the 3-batch
    * schedule. Final relation `spans`(source, pack_id, doc_id,
    * tok_from, n_toks). Shared by q71/q75/q76/s36/s37.
    */
  private def packCtes(order: String): String =
    s"""sp AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY $order) AS BIGINT)
       |      AS tok_end
       |  FROM base),
       |ex AS (
       |  SELECT source, doc_id, tok_end - n_tok AS tok_start, tok_end,
       |    unnest(generate_series((tok_end - n_tok) // $PackTokens,
       |                           (tok_end - 1) // $PackTokens)) AS pack_id
       |  FROM sp),
       |spans AS (
       |  SELECT source, pack_id, doc_id,
       |    greatest(tok_start, pack_id * $PackTokens) - tok_start AS tok_from,
       |    least(tok_end, (pack_id + 1) * $PackTokens)
       |      - greatest(tok_start, pack_id * $PackTokens) AS n_toks
       |  FROM ex)""".stripMargin

  private val spansSelect =
    "\nSELECT source, pack_id, doc_id, tok_from, n_toks\nFROM spans ORDER BY source, pack_id, doc_id"

  private def packSqlFrom(order: String): String =
    packCtes(order) + spansSelect

  /** Tokenized `base` CTE over the raw documents table. */
  private lazy val docsBaseCte: String =
    s"""base AS (
       |  SELECT source, doc_id,
       |    len(string_split(${TextQueries.normSql("text")}, ' ')) AS n_tok
       |  FROM documents
       |  WHERE length(${TextQueries.normSql("text")}) > 0)""".stripMargin

  /** Shared packing oracle: q71 (batch) ≡ s36 (single-batch stream) —
    * the s21≡s22 twin discipline.
    */
  private lazy val seqPackSql: String =
    "WITH " + docsBaseCte + ",\n" + packSqlFrom("doc_id")

  /** Shared sampling oracle: q69 (batch) ≡ s40 (stream). */
  private lazy val sampleHashSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |    ${md5U16Sql("'smp:' || CAST(doc_id AS VARCHAR)")} AS u16
       |  FROM documents)
       |SELECT doc_id, lang, u16 FROM h
       |WHERE u16 < CASE WHEN lang = 'en' THEN 32768 ELSE 16384 END
       |ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ----------- q69 hash-threshold stratified sampling (data mixing)
    // Per-language Bernoulli-style rates (en 50 %, rest 25 %) decided
    // by a pure function of the row: u16 = first 16 bits of
    // md5("smp:" || doc_id) < rate·2^16. Zero shuffle, zero state —
    // the keep decision rides the scan, so at 100 TB sampling is free
    // (and reproducible: the mix is identical on any cluster shape).
    QueryDef(
      "q69_sample_hash",
      (s, d) => {
        val docs = t(s, d, "documents")
        docs
          .withColumn("u16",
            conv(substring(md5(concat(lit("smp:"), col("doc_id").cast("string"))), 1, 4),
              16, 10).cast("long"))
          .filter(col("u16") <
            when(col("lang") === "en", lit(32768L)).otherwise(lit(16384L)))
          .select(col("doc_id"), col("lang"), col("u16"))
          .orderBy(col("doc_id"))
      },
      Some(sampleHashSql)),

    // ------------- q70 exact per-stratum quota sampling (data mixing)
    // Keep ceil(n/5) docs per language CAPPED AT 64, chosen as the
    // quota smallest md5 rank keys. The rank is computed by
    // [[QuotaSample]], a k-bounded aggregator with a per-stratum
    // (data-dependent) k — NOT row_number over a per-language window,
    // whose single task would hold the whole language at corpus
    // scale. The cap is what makes that claim TRUE at corpus scale:
    // an uncapped proportional quota (ceil(n/5) of a billion-row
    // stratum) would put ~n/5 candidates back on the final-merge task
    // — a real mixing run keeps a FIXED number of docs per stratum,
    // and the cap models that. The quota join is a broadcast (strata
    // are few by construction).
    QueryDef(
      "q70_sample_quota",
      (s, d) => {
        val docs = t(s, d, "documents")
        val quotas = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("lang"),
            least(expr("CAST((cnt + 4) div 5 AS INT)"), lit(64)).as("quota"))
        val keyed = docs
          .join(broadcast(quotas), "lang")
          .select(col("lang"), col("doc_id"),
            md5(concat(lit("q:"), col("doc_id").cast("string"))).as("key"),
            col("quota"))
        keyed
          .groupBy(col("lang"))
          .agg(QuotaSample.udafColumn(col("doc_id"), col("key"), col("quota"))
            .as("kept"))
          .select(col("lang"), explode(col("kept")).as("k"))
          .select(col("lang"), col("k.doc_id").as("doc_id"), col("k.rn").as("rn"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH r AS (
             |  SELECT lang, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY md5('q:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY lang) AS cnt
             |  FROM documents)
             |SELECT lang, doc_id, rn FROM r
             |WHERE rn <= least((cnt + 4) // 5, 64)
             |ORDER BY lang, doc_id""".stripMargin)),

    // --------------- q71 token-stream sequence packing (pretraining)
    // GPT-style concat-and-split packing: within each source shard,
    // documents in doc_id order form one token stream, cut into
    // fixed-budget packs; a doc spanning a cut is SPLIT (one output
    // row per (doc, pack) span with the in-doc token range). Pure
    // integer arithmetic end-to-end: a partitioned prefix sum (the
    // window), then a narrow explode of the spanned pack ids — no
    // global ordering anywhere. At 100 TB the shard IS the packing
    // unit (source × date in a real layout), so the prefix sum never
    // crosses executors' hash partitions.
    QueryDef(
      "q71_seq_pack",
      (s, d) => {
        // token counting byte-shared with the streaming twins s34–s37
        val base = graft.streaming.StreamTokenBudget
          .docTokens(t(s, d, "documents")).toDF()
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        packSpans(base
          .withColumn("tok_end", sum(col("n_tok")).over(w))
          .withColumn("tok_start", col("tok_end") - col("n_tok")))
      },
      Some(seqPackSql)),

    // ---------- q72 intra-document repetition signals (quality gates)
    // Gopher-style repetition filters: duplicate-bigram fraction
    // (columnar — one transform + array_distinct per row, no shuffle)
    // and top-token frequency ratio (explode → two hash aggs — the
    // only exchange, keyed by doc_id so it scales with docs, not
    // tokens). `flagged` marks repetition-heavy docs for removal.
    QueryDef(
      "q72_repetition",
      (s, d) => {
        val docs = t(s, d, "documents")
        val base = docs
          .select(col("doc_id"), normalizeTranscript(col("text")).as("__norm"))
          .filter(length(col("__norm")) > 0)
          .select(col("doc_id"), split(col("__norm"), " ").as("toks"))
          .select(col("doc_id"), col("toks"), size(col("toks")).as("n_tok"))
        val withDup = base
          .withColumn("bigrams",
            when(col("n_tok") >= 2,
              transform(sequence(lit(1), col("n_tok") - 1),
                i => concat_ws(" ",
                  element_at(col("toks"), i), element_at(col("toks"), i + lit(1))))))
          .withColumn("dup_bigram_frac",
            round(
              when(col("n_tok") < 2, lit(0.0))
                .otherwise(lit(1.0) -
                  size(array_distinct(col("bigrams"))).cast("double") /
                    size(col("bigrams")).cast("double")), 6))
        val topTok = base
          .select(col("doc_id"), explode(col("toks")).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("max_c"))
        withDup
          .join(topTok, "doc_id")
          .select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"),
            col("dup_bigram_frac"),
            round(col("max_c").cast("double") / col("n_tok").cast("double"), 6)
              .as("top_token_ratio"))
          .withColumn("flagged",
            col("dup_bigram_frac") > 0.5 || col("top_token_ratio") > 0.2)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, string_split(${TextQueries.normSql("text")}, ' ') AS toks
              |  FROM documents
              |  WHERE length(${TextQueries.normSql("text")}) > 0),
              |b2 AS (
              |  SELECT doc_id, toks, len(toks) AS n_tok,
              |    CASE WHEN len(toks) >= 2 THEN
              |      list_transform(range(1, CAST(len(toks) AS INT)),
              |        i -> toks[i] || ' ' || toks[i + 1])
              |    END AS bigrams
              |  FROM base),
              |dd AS (
              |  SELECT doc_id, n_tok,
              |    round(CASE WHEN n_tok < 2 THEN 0.0
              |      ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
              |      END, 6) AS dup_bigram_frac
              |  FROM b2),
              |tc AS (
              |  SELECT doc_id, MAX(c) AS max_c FROM (
              |    SELECT doc_id, tok, COUNT(*) AS c
              |    FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
              |    GROUP BY 1, 2)
              |  GROUP BY 1)
              |SELECT dd.doc_id, CAST(dd.n_tok AS BIGINT) AS n_tokens,
              |  dd.dup_bigram_frac,
              |  round(CAST(tc.max_c AS DOUBLE) / dd.n_tok, 6) AS top_token_ratio,
              |  (dd.dup_bigram_frac > 0.5
              |    OR round(CAST(tc.max_c AS DOUBLE) / dd.n_tok, 6) > 0.2) AS flagged
              |FROM dd JOIN tc USING (doc_id)
              |ORDER BY dd.doc_id""".stripMargin)),

    // ---------- q73 benchmark decontamination (eval-leak detection)
    // The training-pipeline stage dedup does NOT cover: a training doc
    // leaks an eval benchmark if it shares ANY word-5-gram shingle with
    // a benchmark doc (5 = the q28 winnowing gram; 3-grams flag 89 %
    // of this synthetic corpus as template noise, 5-grams isolate the
    // genuine leaked near-copies). The benchmark set is carved deterministically
    // (first md5 hex digit of "bm:"||doc_id = '0', ~1/16 of docs) so
    // the fixture needs no external data. Scale shape: eval suites are
    // FIXED-SIZE while the corpus grows, so the distinct benchmark
    // shingle set is broadcast and the check is a map-side semi-probe
    // riding the corpus scan — no shuffle touches the 100 TB side
    // (the countDistinct agg is keyed by doc_id, scaling with hits,
    // not corpus). Shingle derivation is byte-shared with q30–q32.
    QueryDef(
      "q73_decontam",
      (s, d) => {
        val docs = t(s, d, "documents")
        // toks staged in its own select (the Dedup.minhashSignatures
        // discipline): passing split(..) inline would re-evaluate the
        // split per element_at inside the shingle lambda — measured
        // ~5x on this query (plan showed 5 splits per position)
        val sh = docs
          .select(col("doc_id"), normalizeTranscript(col("text")).as("__norm"))
          .filter(length(col("__norm")) > 0)
          .select(col("doc_id"), split(col("__norm"), " ").as("__toks"),
            (substring(md5(concat(lit("bm:"), col("doc_id").cast("string"))), 1, 1)
              === "0").as("is_bench"))
          .select(col("doc_id"),
            wordShinglesFromToks(col("__toks"), DecontamN).as("sh"),
            col("is_bench"))
        val benchSh = sh.filter(col("is_bench"))
          .select(explode(col("sh")).as("s")).distinct()
        sh.filter(!col("is_bench"))
          .select(col("doc_id"), explode(col("sh")).as("s"))
          .join(broadcast(benchSh), "s")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("s")).as("n_hits"))
          .orderBy(col("doc_id"))
      },
      Some(decontamSql)),

    // ------- q74 mixture weights to a target token budget (data mixing)
    // q69 samples at FIXED rates; real mixes derive the rate from the
    // data: equal-token targets per source (target = total/n_sources),
    // rate_u16 = min(2^16, target·2^16 div src_tokens), then the same
    // hash-threshold sample. Everything is BIGINT-exact (no double
    // ratios — cross-engine rounding can flip a keep decision), the
    // per-source table is tiny (broadcast both ways), and the keep
    // decision again rides the scan. Output is the per-source audit
    // row a mixing run logs: actual vs target vs achieved tokens.
    QueryDef(
      "q74_mix_weights",
      (s, d) => {
        // token counting byte-shared with q71 and the streaming twins
        val base = graft.streaming.StreamTokenBudget
          .docTokens(t(s, d, "documents")).toDF()
          .withColumn("u16",
            conv(substring(md5(concat(lit("mx:"), col("doc_id").cast("string"))), 1, 4),
              16, 10).cast("long"))
        val bySrc = base.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("src_tokens"))
        val tot = bySrc.agg(
          sum(col("src_tokens")).as("total_tokens"),
          count(lit(1)).as("n_sources"))
        val rates = bySrc.crossJoin(broadcast(tot))
          .withColumn("target_tokens", expr("total_tokens div n_sources"))
          .withColumn("rate_u16",
            least(lit(65536L), expr("(target_tokens * 65536) div src_tokens")))
          .select(col("source"), col("n_docs"), col("src_tokens"),
            col("target_tokens"), col("rate_u16"))
        val kept = base
          .join(broadcast(rates.select(col("source"), col("rate_u16"))), "source")
          .filter(col("u16") < col("rate_u16"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("kept_docs"), sum(col("n_tok")).as("kept_tokens"))
        rates
          .join(kept, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("src_tokens"),
            col("target_tokens"), col("rate_u16"),
            coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
            coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH base AS (
              |  SELECT source, doc_id,
              |    CAST(len(string_split(${TextQueries.normSql("text")}, ' ')) AS BIGINT)
              |      AS n_tok,
              |    ${md5U16Sql("'mx:' || CAST(doc_id AS VARCHAR)")} AS u16
              |  FROM documents
              |  WHERE length(${TextQueries.normSql("text")}) > 0),
              |by_src AS (
              |  SELECT source, COUNT(*) AS n_docs,
              |    CAST(SUM(n_tok) AS BIGINT) AS src_tokens
              |  FROM base GROUP BY 1),
              |tot AS (
              |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
              |    COUNT(*) AS n_sources FROM by_src),
              |rates AS (
              |  SELECT source, n_docs, src_tokens,
              |    total_tokens // n_sources AS target_tokens,
              |    least(65536, (total_tokens // n_sources) * 65536 // src_tokens)
              |      AS rate_u16
              |  FROM by_src, tot),
              |kept AS (
              |  SELECT source, COUNT(*) AS kept_docs,
              |    CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
              |  FROM base JOIN rates USING (source)
              |  WHERE u16 < rate_u16 GROUP BY 1)
              |SELECT rates.source, n_docs, src_tokens, target_tokens, rate_u16,
              |  COALESCE(kept_docs, 0) AS kept_docs,
              |  COALESCE(kept_tokens, 0) AS kept_tokens
              |FROM rates LEFT JOIN kept ON rates.source = kept.source
              |ORDER BY rates.source""".stripMargin)),

    // --------- s33 ingestion-time decontamination (streaming q73 twin)
    // The decontamination check at ingest: a live document stream is
    // probed against the STATIC benchmark shingle set (fixed-size by
    // nature — eval suites don't grow with the corpus), a stream-static
    // broadcast join like s13 but through the 1:N shingle explode.
    // Stateless on the stream side — no state store, no watermark, so
    // append output is schedule-independent and the query shares q73's
    // oracle verbatim (the s21≡s22 twin discipline). Per-doc hit
    // counting happens batch-side on the sink table, exactly like s29.
    QueryDef(
      "s33_stream_decontam",
      (s, d) => {
        val isBench =
          substring(md5(concat(lit("bm:"), col("doc_id").cast("string"))), 1, 1) === "0"
        // same staged-toks discipline as q73 (split evaluated once per
        // row, not once per element_at in the shingle lambda)
        val benchSh = t(s, d, "documents")
          .select(col("doc_id"), normalizeTranscript(col("text")).as("__norm"))
          .filter(length(col("__norm")) > 0).filter(isBench)
          .select(split(col("__norm"), " ").as("__toks"))
          .select(explode(wordShinglesFromToks(col("__toks"), DecontamN)).as("s"))
          .distinct()
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents)
        val hits = stream
          .select(col("doc_id"), normalizeTranscript(col("text")).as("__norm"))
          .filter(length(col("__norm")) > 0).filter(!isBench)
          .select(col("doc_id"), split(col("__norm"), " ").as("__toks"))
          .select(col("doc_id"),
            explode(wordShinglesFromToks(col("__toks"), DecontamN)).as("s"))
          .join(broadcast(benchSh), "s")
        graft.streaming.StreamRunner.runToMemory(hits, "append")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("s")).as("n_hits"))
          .orderBy(col("doc_id"))
      },
      Some(decontamSql)),

    // ------ s34 streaming token-budget truncation (ingestion mixing)
    // The ingestion-time form of q74's "this source has contributed
    // its target tokens": per-source running token total in keyed
    // ValueState, a doc admitted iff its inclusive prefix sum ≤ the
    // budget, rejected rows still emitted as audit rows. Single batch
    // → processing order is doc_id order, so the oracle is one window
    // prefix sum.
    QueryDef(
      "s34_stream_token_budget",
      (s, d) => {
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents)
        val admits = graft.streaming.StreamTokenBudget.stage(
          graft.streaming.StreamTokenBudget.docTokens(stream), TokenBudget)
        graft.streaming.StreamRunner.runToMemory(admits.toDF(), "append")
          .select(col("doc_id"), col("source"), col("n_tok"),
            col("cum_tokens"), col("admitted"))
          .orderBy(col("doc_id"))
      },
      Some(tokenBudgetSql("doc_id"))),

    // ----- s35 multi-batch token budget: the total carried in state
    // Documents arrive as 3 micro-batches split by doc_id % 3; the
    // running total crosses batches through the ValueState, so a
    // batch-1 doc's prefix includes batch-0 docs with LARGER doc_ids
    // — the regime the single-batch oracle cannot produce (there,
    // arrival order IS doc_id order). Oracle = the same prefix sum
    // over the engine's processing order (batch, doc_id).
    QueryDef(
      "s35_stream_token_budget_multibatch",
      (s, d) => {
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents,
          batches = 3, splitBy = "doc_id")
        val admits = graft.streaming.StreamTokenBudget.stage(
          graft.streaming.StreamTokenBudget.docTokens(stream), TokenBudget)
        graft.streaming.StreamRunner.runToMemory(admits.toDF(), "append")
          .select(col("doc_id"), col("source"), col("n_tok"),
            col("cum_tokens"), col("admitted"))
          .orderBy(col("doc_id"))
      },
      Some(tokenBudgetSql("doc_id % 3, doc_id"))),

    // ----------- q75 curated pretraining mix (end-to-end flagship)
    // The full materialization a pretraining data job runs: the q48
    // curation pipeline (quality gates → language allow-list → exact
    // dedup → near-dup cluster resolution) feeding the q71 sequence
    // packer — kept docs only, packed into fixed-budget training
    // sequences per source. Both halves are byte-shared with their
    // standalone queries (keepListDocs/keeplistCtes, packSpans/
    // packSqlFrom), so this query pins the COMPOSITION: curation's
    // output schema keeps feeding the packer as either side evolves.
    QueryDef(
      "q75_curated_mix",
      (s, d) => {
        val kept = CurationQueries.keepListDocs(s, d)
          .select(col("source"), col("doc_id"),
            col("n_tokens").cast("long").as("n_tok"))
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        packSpans(kept
          .withColumn("tok_end", sum(col("n_tok")).over(w))
          .withColumn("tok_start", col("tok_end") - col("n_tok")))
      },
      Some(CurationQueries.keeplistCtes + ",\n" +
        "base AS (SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tok FROM kept),\n" +
        packSqlFrom("doc_id"))),

    // --------- s36 streaming sequence packing (ingestion-time q71)
    // Documents arrive as a stream and receive their token-stream
    // positions ONLINE: the per-source running offset lives in the
    // same ValueState the token budget uses (an unlimited budget IS
    // the streaming prefix sum — one stateful operator, two
    // surfaces), and the span explode downstream is byte-shared with
    // the batch packer. Single batch → processing order is doc_id
    // order, so s36 shares q71's oracle VERBATIM (the s21≡s22 twin
    // discipline: one oracle, two physical strategies).
    QueryDef(
      "s36_stream_seq_pack",
      (s, d) => {
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents)
        val pos = graft.streaming.StreamTokenBudget.positions(
          graft.streaming.StreamTokenBudget.docTokens(stream))
        packSpans(graft.streaming.StreamRunner.runToMemory(pos, "append"))
      },
      Some(seqPackSql)),

    // ------ s37 multi-batch streaming packing: offsets carried in state
    // 3 micro-batches split by doc_id % 3: a batch-1 doc's position
    // includes batch-0 docs with LARGER doc_ids — the running offset
    // crosses batches through the ValueState, the regime the
    // single-batch oracle cannot produce. Oracle = the same pack
    // arithmetic over the engine's processing order (batch, doc_id).
    QueryDef(
      "s37_stream_seq_pack_multibatch",
      (s, d) => {
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents,
          batches = 3, splitBy = "doc_id")
        val pos = graft.streaming.StreamTokenBudget.positions(
          graft.streaming.StreamTokenBudget.docTokens(stream))
        packSpans(graft.streaming.StreamRunner.runToMemory(pos, "append"))
      },
      Some("WITH " + docsBaseCte + ",\n" + packSqlFrom("doc_id % 3, doc_id"))),

    // -------- s38 streaming online top-k admission (ingestion q70)
    // The quota sample's ingestion-time form: each doc is flagged AT
    // ARRIVAL iff its md5 rank key is among the k smallest its source
    // has seen so far. The state is the running k-minimum set itself —
    // bounded ordered state WITH EVICTION (a later smaller key
    // displaces the current max), the state discipline s29's
    // append-only first-k admission does not exercise. Single batch →
    // processing order is doc_id order; the oracle counts strictly
    // smaller (key, doc_id) pairs among earlier-processed rows.
    QueryDef(
      "s38_stream_topk",
      (s, d) => {
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents)
        val flags = graft.streaming.StreamTopK.stage(
          graft.streaming.StreamTopK.rankedDocs(stream))
        graft.streaming.StreamRunner.runToMemory(flags.toDF(), "append")
          .select(col("doc_id"), col("source"), col("key"), col("in_topk"))
          .orderBy(col("doc_id"))
      },
      Some(topkSql("b.doc_id < a.doc_id"))),

    // ------ s39 multi-batch top-k: eviction state carried in state
    // 3 micro-batches split by doc_id % 3: a batch-1 doc probes a heap
    // already holding batch-0 admissions with LARGER doc_ids, and
    // batch-2 keys can EVICT batch-0 entries before later batch-2 rows
    // probe — both regimes a single-batch run structurally cannot
    // produce. Oracle = the same prefix-rank count over (batch,
    // doc_id) processing order.
    QueryDef(
      "s39_stream_topk_multibatch",
      (s, d) => {
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents,
          batches = 3, splitBy = "doc_id")
        val flags = graft.streaming.StreamTopK.stage(
          graft.streaming.StreamTopK.rankedDocs(stream))
        graft.streaming.StreamRunner.runToMemory(flags.toDF(), "append")
          .select(col("doc_id"), col("source"), col("key"), col("in_topk"))
          .orderBy(col("doc_id"))
      },
      Some(topkSql(
        "(b.doc_id % 3 < a.doc_id % 3 OR (b.doc_id % 3 = a.doc_id % 3 AND b.doc_id < a.doc_id))"))),

    // ------------ s40 streaming stratified sampling (ingest q69 twin)
    // The hash-threshold sample at ingest: the keep decision is a pure
    // function of the row, so the streaming form is STATELESS — no
    // state store, no watermark, schedule-independent append — and
    // shares q69's oracle verbatim (the s21≡s22 twin discipline).
    // This pins the property that matters at 10^12 rows: sampling
    // needs no coordination, so it costs the same at ingest as in
    // batch, on any cluster shape.
    QueryDef(
      "s40_stream_sample_hash",
      (s, d) => {
        val stream = graft.streaming.StreamRunner.parquetStream(
          s, s"$d/documents.parquet", graft.model.Schemas.documents)
        val kept = stream
          .withColumn("u16",
            conv(substring(md5(concat(lit("smp:"), col("doc_id").cast("string"))), 1, 4),
              16, 10).cast("long"))
          .filter(col("u16") <
            when(col("lang") === "en", lit(32768L)).otherwise(lit(16384L)))
          .select(col("doc_id"), col("lang"), col("u16"))
        graft.streaming.StreamRunner.runToMemory(kept, "append")
          .orderBy(col("doc_id"))
      },
      Some(sampleHashSql)),

    // ------- q76 deterministic shuffle-shard assignment (train order)
    // The last mixing stage: training-order randomization. Each q71
    // pack gets a deterministic md5 shuffle key; the first hex digit
    // assigns one of 16 shuffle SHARDS (md5 uniformity balances them),
    // and the position within a shard is a window partitioned BY
    // SHARD — never a global row_number, whose single sorting task is
    // the classic driver-shaped bottleneck; at 100 TB you widen to
    // more hex digits and each shard is one output file. The shard
    // assignment rides the scan; the only exchange is the 16-way
    // partitioned rank.
    QueryDef(
      "q76_shuffle_shards",
      (s, d) => {
        val base = graft.streaming.StreamTokenBudget
          .docTokens(t(s, d, "documents")).toDF()
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val packs = packSpans(base
          .withColumn("tok_end", sum(col("n_tok")).over(w))
          .withColumn("tok_start", col("tok_end") - col("n_tok")))
          .groupBy(col("source"), col("pack_id"))
          .agg(sum(col("n_toks")).as("pack_tokens"))
          .withColumn("skey",
            md5(concat(lit("sh:"), col("source"), lit(":"),
              col("pack_id").cast("string"))))
          .withColumn("shard",
            conv(substring(col("skey"), 1, 1), 16, 10).cast("int"))
        val ws = Window.partitionBy(col("shard"))
          .orderBy(col("skey"), col("source"), col("pack_id"))
        packs
          .select(col("shard"),
            row_number().over(ws).cast("long").as("pos"),
            col("source"), col("pack_id"), col("pack_tokens"))
          .orderBy(col("shard"), col("pos"))
      },
      Some("WITH " + docsBaseCte + ",\n" + packCtes("doc_id") + ",\n" +
        """pk AS (
          |  SELECT source, pack_id, CAST(SUM(n_toks) AS BIGINT) AS pack_tokens
          |  FROM spans GROUP BY 1, 2),
          |sk AS (
          |  SELECT *, md5('sh:' || source || ':' || CAST(pack_id AS VARCHAR)) AS skey
          |  FROM pk),
          |sh AS (
          |  SELECT *, CAST(strpos('0123456789abcdef', substr(skey, 1, 1)) - 1 AS INT)
          |    AS shard
          |  FROM sk)
          |SELECT shard,
          |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, source, pack_id)
          |    AS pos,
          |  source, pack_id, pack_tokens
          |FROM sh ORDER BY shard, pos""".stripMargin))
  )

  /** One prefix-rank oracle for both top-k queries, parameterized only
    * by "b processed strictly before a": in_topk iff fewer than k
    * earlier-processed same-source rows carry a smaller (key, doc_id).
    */
  private def topkSql(earlier: String): String =
    s"""WITH r AS (
       |  SELECT source, doc_id,
       |    md5('tk:' || CAST(doc_id AS VARCHAR)) AS key
       |  FROM documents),
       |c AS (
       |  SELECT a.source, a.doc_id, a.key, COUNT(b.doc_id) AS nb
       |  FROM r a LEFT JOIN r b ON b.source = a.source
       |    AND $earlier
       |    AND (b.key < a.key OR (b.key = a.key AND b.doc_id < a.doc_id))
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, source, key, nb < ${graft.streaming.StreamTopK.DefaultK} AS in_topk
       |FROM c ORDER BY doc_id""".stripMargin

  /** One prefix-sum oracle for both token-budget queries,
    * parameterized only by the engine's processing order.
    */
  private def tokenBudgetSql(order: String): String =
    s"""WITH base AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(${TextQueries.normSql("text")}, ' ')) AS BIGINT)
       |      AS n_tok
       |  FROM documents
       |  WHERE length(${TextQueries.normSql("text")}) > 0),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY $order) AS BIGINT)
       |      AS cum_tokens
       |  FROM base)
       |SELECT doc_id, source, n_tok, cum_tokens,
       |  cum_tokens <= $TokenBudget AS admitted
       |FROM c ORDER BY doc_id""".stripMargin

  /** One oracle, two physical strategies: q73's batch broadcast
    * semi-probe and s33's stream-static join must produce the same
    * per-doc hit counts (the s21≡s22 twin discipline).
    */
  private lazy val decontamSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(${TextQueries.normSql("text")}, ' ') AS toks
       |  FROM documents
       |  WHERE length(${TextQueries.normSql("text")}) > 0),
       |sh AS (
       |  SELECT doc_id, ${DedupQueries.shinglesSqlN(DecontamN)} AS sh,
       |    substr(md5('bm:' || CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_bench
       |  FROM tk),
       |bs AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE is_bench),
       |tr AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE NOT is_bench)
       |SELECT doc_id, COUNT(DISTINCT tr.s) AS n_hits
       |FROM tr JOIN bs ON tr.s = bs.s
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
