package graft.pipelines

import graft.Materialize._

import graft.functions.TextFunctions
import graft.operators.{DedupClusters, MinHashDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-corpus preparation pipeline, composed from
  * the library's operators — the shape a 100 TB data-curation run takes:
  *
  *   PII scrub (email/URL masking — downstream stages see masked text)
  *     → token normalization (optional: consecutive-duplicate collapse,
  *       per-row — the q98 shape)
  *     → paragraph boilerplate removal (optional: segments seen in ≥2
  *       distinct docs dropped, text reassembled — the q96 shape, one
  *       window shuffle on the segment key)
  *     → annotate (quality / repetition / token stats, one linear pass)
  *     → quality + repetition gates (pushdown filter)
  *     → classifier gate (optional: mean hashed-bucket weight vs
  *       threshold — the q87 model-score shape)
  *     → blocklist gate (optional: blocked-token density cap +
  *       boundary-safe blocked phrases — the q163 C4 bad-words shape)
  *     → decontamination (optional: drop docs overlapping a broadcast
  *       eval set's shingle hashes — the q83 shape)
  *     → exact dedup (normalized-key groupBy, min-id survivor)
  *     → near-dup dedup (MinHash LSH pairs → connected components →
  *       keeper-only)
  *     → mixture rebalance (deterministic per-stratum hash thresholds)
  *
  * With the optional stages off, everything before the LSH band join is
  * a single scan with no shuffle; the pipeline shuffles only at:
  * exact-dedup groupBy, LSH band join, cluster contraction rounds, and
  * the final per-stratum count broadcast. Enabling boilerplate removal
  * adds its segment-key window + per-doc rollup; decontamination adds
  * the shingle probe's groupBy and the anti-join (probe side is a
  * broadcast). Deterministic end to end — same survivors on every run,
  * every cluster size (content-hash thresholds, min-id keepers).
  *
  * Each stage is also independently exposed as a `SparkEntry` query with
  * a DuckDB oracle (q60–q99, see SURVEY §2.L); this composition is how
  * they run together.
  */
object CorpusPipeline {

  final case class Config(
      minTokens: Int = 5,
      minQuality: Double = 0.2,
      scrubPii: Boolean = true, // mask emails/URLs before anything reads text
      normalizeTokens: Boolean = false, // collapse consecutive dup tokens (q98)
      // drop segments of `boilerplateSegTokens` tokens that appear in >=2
      // distinct docs and reassemble the text (q96 shape); docs reduced
      // to nothing fall to the minTokens gate
      dropBoilerplate: Boolean = false,
      boilerplateSegTokens: Int = 8,
      maxTopTokenFrac: Double = 1.0, // repetition gates (1.0 = off)
      maxDupBigramFrac: Double = 1.0,
      // compression-ratio band (deflate entropy proxy): below min =
      // machine-repetitive, above max = binary-ish junk. ON by default —
      // (0.10, 1.10) grounded in the measured corpus distribution (prose
      // 0.40–0.85 p1–p99 at sf0.01; SCALE.md round-5 note). Set (0, 2)
      // to disable. Docs shorter than `deflateMinBytes` skip the band:
      // deflate's fixed header dominates short strings (a 50-byte prose
      // doc already deflates >1.0), so the signal only exists at length.
      minDeflateRatio: Double = 0.10,
      maxDeflateRatio: Double = 1.10,
      deflateMinBytes: Int = 200,
      // model-score gate (q87 shape): hashed-bucket weight table, keep
      // docs whose mean token weight exceeds the threshold; None = off.
      // A trained fasttext-style model exports exactly this array.
      classifierWeights: Option[Seq[Double]] = None,
      classifierMinScore: Double = 0.0,
      deconShingleK: Int = 3, // decontamination window (q83)
      deconMinShared: Int = 2,
      shingleK: Int = 2,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucketSize: Int = 0,
      mixturePerMillion: Long = 1000000L, // 1e6 = keep all of smallest stratum
      // final token recipe (q102 shape): per stratum, keep the
      // highest-quality docs while the running token count stays within
      // the budget; None = off. Runs last so the budget is spent on
      // already-deduped, already-rebalanced survivors.
      tokenBudgetPerStratum: Option[Long] = None,
      // blocklist gate (q163 shape): blocked-token density cap
      // (per-mille) + boundary-safe blocked phrases; both empty = off
      blockTerms: Seq[String] = Nil,
      blockPhrases: Seq[String] = Nil,
      maxBlockedPerMille: Long = 10L)

  /** docs(idCol, textCol, strataCol) → kept rows with annotations:
    * (id, text, stratum, n_tokens, n_bpe, quality, top_token_frac,
    * dup_bigram_frac, cluster_id); text is PII-scrubbed when enabled.
    *
    * @param evalTexts optional benchmark eval set (single `text`
    *        column): docs sharing ≥ `deconMinShared` distinct
    *        `deconShingleK`-gram hashes with it are dropped
    *        (decontamination, q83 shape — broadcast probe, linear) */
  def run(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String, cfg: Config = Config(),
      evalTexts: Option[DataFrame] = None): DataFrame = {
    // 0. PII scrub first, so every downstream stage (annotations,
    // signatures, the kept text itself) sees masked content only
    val scrubbed =
      if (!cfg.scrubPii) docs.withColumn("_text", col(textCol))
      else docs.withColumn("_text",
        regexp_replace(
          regexp_replace(col(textCol), graft.queries.TextQueries.UrlRe, "<URL>"),
          graft.queries.TextQueries.EmailRe, "<EMAIL>"))

    // 0b. token normalization (q98's collapseConsecutive kernel):
    // per-row, bound token column, no generator involved
    val normalized =
      if (!cfg.normalizeTokens) scrubbed
      else scrubbed
        .withColumn("_ntk", TextFunctions.tokens(col("_text")))
        .withColumn("_text",
          array_join(TextFunctions.collapseConsecutive(col("_ntk")), " "))
        .drop("_ntk")

    // 0c. paragraph boilerplate removal (the shared SegmentDedup
    // operator — q96's one-window shape). Docs reduced to nothing are
    // dropped HERE: tokens("") is [""] (size 1), so the minTokens gate
    // alone would pass empty docs through at minTokens <= 1. Only
    // (id, stratum, text) survive this stage — the downstream annotate
    // reads nothing else.
    val deboiled =
      if (!cfg.dropBoilerplate) normalized
      else graft.operators.SegmentDedup
        .annotate(normalized, idCol, "_text", cfg.boilerplateSegTokens,
          Seq(strataCol))
        .where(col("text_clean") =!= "")
        .select(col(idCol), col(strataCol), col("text_clean").as("_text"))

    // 1. annotate + quality/repetition gates (single scan, codegen'd
    // kernels; repetition stats per q82 — local term_counts, no shuffle)
    val toks = col("_toks")
    val bigrams = transform(slice(toks, lit(1), size(toks) - 1),
      (x, i) => concat_ws(" ", x, get(toks, i + 1)))
    val annotated = deboiled
      .withColumn("_toks", TextFunctions.tokens(col("_text")))
      .select(
        col(idCol).cast("long").as("doc_id"), col("_text").as("text"),
        col(strataCol).as("stratum"),
        size(toks).as("n_tokens"), // same value as tokenCount, one split
        TextFunctions.bpeTokenCount(col("_text")).as("n_bpe"),
        TextFunctions.qualityScore(col("_text")).as("quality"),
        (array_max(transform(call_function("term_counts", toks),
          x => x.getField("cnt"))).cast("double") / size(toks))
          .as("top_token_frac"),
        when(size(toks) <= 1, lit(0.0))
          .otherwise(lit(1.0) - size(array_distinct(bigrams)).cast("double") /
            (size(toks) - 1))
          .as("dup_bigram_frac"))
      .where {
        val base = col("n_tokens") >= cfg.minTokens &&
          col("quality") >= cfg.minQuality &&
          col("top_token_frac") <= cfg.maxTopTokenFrac &&
          col("dup_bigram_frac") <= cfg.maxDupBigramFrac
        // deflate only when the band is active (set (0, 2) to disable);
        // short docs skip it — below `deflateMinBytes` the fixed deflate
        // header swamps the entropy signal. The length test short-circuits
        // before the kernel runs, so a short-doc-heavy corpus pays ~nothing.
        if (cfg.minDeflateRatio > 0.0 || cfg.maxDeflateRatio < 2.0) {
          val r = TextFunctions.compressionRatio(col("text"))
          base && (octet_length(col("text")) < cfg.deflateMinBytes ||
            (r >= cfg.minDeflateRatio && r <= cfg.maxDeflateRatio))
        } else base
      }

    // 1b. model-score gate (q87 shape): mean hashed-bucket weight per
    // doc, per-row compute against a broadcast-literal weight table
    val classified = cfg.classifierWeights match {
      case None => annotated
      case Some(w) =>
        val weights = array(w.map(lit): _*)
        val toksC = TextFunctions.tokens(col("text"))
        val score = aggregate(
          transform(toksC, tk => element_at(weights,
            pmod(TextFunctions.tokenHash(tk), lit(w.length.toLong))
              .cast("int") + 1)),
          lit(0.0), (acc, x) => acc + x) / greatest(size(toksC), lit(1))
        annotated.where(score > cfg.classifierMinScore)
    }

    // 1b'. blocklist gate (q163's C4 bad-words shape): blocked-token
    // density cap + boundary-safe blocked-phrase rejection, per-row
    // codegen'd against plan-literal arrays
    val blockGated =
      if (cfg.blockTerms.isEmpty && cfg.blockPhrases.isEmpty) classified
      else {
        val toksB = TextFunctions.tokens(col("text"))
        val density =
          if (cfg.blockTerms.isEmpty) lit(true)
          else {
            val terms = array(cfg.blockTerms.map(lit): _*)
            lit(1000L) * size(filter(toksB, x => array_contains(terms, x)))
              .cast("long") <=
              lit(cfg.maxBlockedPerMille) * size(toksB).cast("long")
          }
        val phraseFree = cfg.blockPhrases.foldLeft(lit(true)) { (acc, p) =>
          acc && !concat(lit(" "), array_join(toksB, " "), lit(" "))
            .contains(s" $p ")
        }
        classified.where(density && phraseFree)
      }

    // 1c. decontamination (q83 shape): eval-set shingle hashes are a
    // broadcast set; contaminated doc ids fall out of one equi-join +
    // per-doc count — linear in corpus size, then an anti-join drops
    // them. The eval text goes through the SAME scrub/normalize
    // transforms as the corpus did — otherwise a contaminated doc whose
    // overlap spans a masked URL/email or a collapsed token run would
    // hash differently on the two sides and silently survive.
    val decontaminated = evalTexts match {
      case None => blockGated
      case Some(ev) =>
        val k = cfg.deconShingleK
        val evTextRaw = col(ev.columns.head)
        val evScrubbed =
          if (!cfg.scrubPii) evTextRaw
          else regexp_replace(
            regexp_replace(evTextRaw, graft.queries.TextQueries.UrlRe, "<URL>"),
            graft.queries.TextQueries.EmailRe, "<EMAIL>")
        val evText =
          if (!cfg.normalizeTokens) evScrubbed
          else array_join(TextFunctions.collapseConsecutive(
            TextFunctions.tokens(evScrubbed)), " ")
        val evSh = ev.select(explode(MinHashDedup
          .shingleHashesFromTokens(evText, k)).as("_sh")).distinct()
        // both the probe and the anti-join left consume the gated frame;
        // materialize it once or the whole upstream chain (scan, scrub,
        // boilerplate window, annotate kernels, classifier) runs twice
        val base = blockGated.materialize()
        val hits = base
          .select(col("doc_id"),
            explode(MinHashDedup.shingleHashesFromTokens(col("text"), k)).as("_sh"))
          .join(broadcast(evSh), "_sh")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("_sh")).as("_n_shared"))
          .where(col("_n_shared") >= cfg.deconMinShared)
          .select(col("doc_id"))
        base.join(hits, Seq("doc_id"), "left_anti")
    }

    // 2. exact dedup: whitespace-normalized FULL text, min-id survivor.
    // The window partitions on (fingerprint, normalized text): the
    // fingerprint narrows the shuffle key hash, the text term makes the
    // identity truly exact (fingerprint-only would silently merge
    // 2^30-birthday collisions; a 3-token-prefix key — an earlier
    // shape of this stage — deleted DISTINCT docs sharing an opener).
    val normText = array_join(TextFunctions.tokens(col("text")), " ")
    val exactSurvivors = decontaminated
      .withColumn("_k", TextFunctions.charFingerprint(normText))
      .withColumn("_t", normText)
      .withColumn("_keeper", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("_k"), col("_t"))))
      .where(col("doc_id") === col("_keeper"))
      .drop("_k", "_t", "_keeper")

    // 3. near-dup dedup: LSH pairs → components → keeper-only
    val pairs = MinHashDedup.candidatePairs(exactSurvivors, "doc_id", "text",
      cfg.shingleK, cfg.numHashes, cfg.bands, cfg.maxBucketSize)
    val clustered = DedupClusters.clusters(exactSurvivors, "doc_id",
      pairs, "doc1", "doc2")
    // materialized once: the mixture stage below consumes nearSurvivors
    // three times (stratum counts, their min, and the output join) — an
    // unmaterialized lineage would re-run the annotate scan, exact-dedup
    // window and LSH band join per consumer
    val nearSurvivors = exactSurvivors
      .join(clustered.where(col("is_keeper") === 1).select(col("doc_id"), col("cluster_id")),
        "doc_id")
      .materialize()

    // 4. mixture rebalance: downsample every stratum toward the smallest
    val cnts = nearSurvivors.groupBy(col("stratum")).agg(count(lit(1)).as("_cnt"))
    val mn = cnts.agg(min(col("_cnt")).as("_min_cnt"))
    val rebalanced = nearSurvivors
      .join(broadcast(cnts), "stratum")
      .crossJoin(broadcast(mn))
      .where(pmod(TextFunctions.charFingerprint(col("text")), lit(1000000L)) * col("_cnt") <
        col("_min_cnt") * lit(cfg.mixturePerMillion))
      .drop("_cnt", "_min_cnt")

    // 5. token recipe (optional): spend each stratum's token budget on
    // its highest-quality survivors (BudgetSelect's distributed
    // per-group prefix sum — never sorts a whole stratum in one task).
    // Quality ties break on doc_id, so the cut is deterministic.
    cfg.tokenBudgetPerStratum.fold(rebalanced) { budget =>
      graft.operators.BudgetSelect.select(rebalanced, col("stratum"),
          prefCols = Seq(col("quality") -> false), keyName = "doc_id",
          weightCol = col("n_tokens"), budgetCol = lit(budget))
        .drop("sel_prior")
    }
  }

  /** Training-sequence tail over [[run]]'s kept rows: the pack-then-
    * split segment map (q159's regime — docs cross boundaries, zero
    * padding) keyed by doc_id with token weights from the pipeline's
    * own annotate pass. The trainer's lineage artifact. */
  def packSequences(kept: DataFrame, seqLen: Long): DataFrame =
    graft.operators.SequencePack.segments(
      kept, col("doc_id"), col("n_tokens"), seqLen)

  /** The doc-aligned alternative (q166's fewer-truncations regime —
    * docs never straddle boundaries, some padding slack), packed per
    * stratum. */
  def packBestFit(kept: DataFrame, seqLen: Long, shards: Int = 1): DataFrame =
    graft.operators.BestFitPack.pack(
      kept, col("stratum"), col("doc_id"), col("n_tokens"), seqLen, shards)
}
