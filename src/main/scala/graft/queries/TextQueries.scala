package graft.queries

import graft.Materialize._

import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text analysis over the `documents` table: token
  * statistics, quality scoring, language-ID, content fingerprinting.
  * All per-row compute composed from codegen'd built-ins — scales
  * linearly, no shuffle except the final aggregations.
  */
object TextQueries {

  val queries: Map[String, Q] = Map(
    // corpus length-distribution report: exact nearest-rank
    // P50/P90/P99/P99.9 of per-document token counts + total/mean — the
    // "what sequence length fits this corpus" one-pager every training
    // pipeline opens with (truncation rate at a context length reads
    // straight off the tail percentiles). GLOBAL quantiles are the
    // degenerate one-group case of GroupQuantile: when SizeGate reads
    // the input large, the GlobalRank path range-partitions the single hot group across the
    // cluster — the shape a corpus-sized ORDER BY needs — and selection
    // stays exact (no approx-percentile sketch ambiguity in the oracle).
    "q172_length_quantiles" -> ((s, dir) => {
      import graft.operators.GroupQuantile
      val d = t(s, dir, "documents")
        .select(lit(1).as("g"),
          size(tokens(col("text"))).cast("long").as("n_toks"))
      val totals = d.agg(sum(col("n_toks")).as("total_tokens"))
      GroupQuantile.selectRanks(d, Seq("g"), "n_toks", Seq(
          "p50" -> (n => GroupQuantile.rank(n, 2L)),
          "p90" -> (n => GroupQuantile.idiv(n * lit(90L) + lit(99L), lit(100L))),
          "p99" -> (n => GroupQuantile.idiv(n * lit(99L) + lit(99L), lit(100L))),
          "p999" -> (n => GroupQuantile.idiv(n * lit(999L) + lit(999L), lit(1000L)))),
        nCol = "n_docs")
        .crossJoin(broadcast(totals))
        .select(col("n_docs"), col("p50"), col("p90"), col("p99"),
          col("p999"), col("total_tokens"),
          round6(col("total_tokens"), col("n_docs")).as("mean_toks"))
    }),

    // token statistics per document
    "q60_text_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          distinctTokenCount(col("text")).as("n_distinct"),
          bpeTokenCount(col("text")).as("n_bpe"),
          length(col("text")).as("n_chars_txt"))
        .orderBy(col("doc_id"))),

    // quality scoring: saturating length + stopword density + diversity
    "q61_text_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          stopwordCount(col("text")).as("n_stop"),
          punctCount(col("text")).as("n_punct"),
          qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // language-ID (marker-profile argmax) vs the labeled lang column;
    // tokens bound once — the argmax references each count twice
    "q62_text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), tokens(col("text")).as("tk"))
        .select(col("lang"), langIdFromTokens(col("tk")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))),

    // rolling-hash content fingerprint per document
    "q63_text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), charFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // TF-IDF (ratio idf variant — log-free so both engines compute the
    // identical double): most characteristic term per document.
    // TF is computed LOCALLY per row (native term_counts kernel) — the
    // classic explode→groupBy(doc,term) plan shuffles every token
    // occurrence to count within a document, but a document's counts
    // need no other row. The exploded (doc, term, cnt) stream is already
    // distinct per (doc, term), so document frequency is a window count
    // per term. Two data shuffles total (df by term, top-1 by doc)
    // instead of four.
    "q68_text_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"),
          tokenCount(col("text")).as("n_tok"))
      // corpus size stays IN the plan (broadcast 1-row agg) — a driver-side
      // docs.count() here would force a second full scan of documents.
      val nDocs = broadcast(t(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs")))
      val tf = docs.select(col("doc_id"), col("n_tok"),
          explode(call_function("term_counts", col("toks"))).as("tc"))
        .select(col("doc_id"), col("n_tok"),
          col("tc.term").as("term"), col("tc.cnt").as("cnt"))
      val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.withColumn("df_t", count(lit(1)).over(wTerm))
        .crossJoin(nDocs)
        // integer-exact 6-dp rounding (see the round6 scaladoc): the
        // ratio-idf denominator n_tok*df_t can carry 2^7+, where an
        // exact .5e-6 tie rounds differently in Spark vs DuckDB
        .withColumn("score", round6(
          col("cnt").cast("long") * col("n_docs"),
          col("n_tok").cast("long") * col("df_t")))
        .withColumn("rn", row_number().over(wDoc))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("term"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // PII scrub: mask emails/URLs, count what was masked. The synthetic
    // corpus carries no PII (counts come back 0 and the text passes
    // through), so the oracle verifies regex-parity mechanics;
    // ScrubSpec proves the masking on planted PII.
    "q81_text_scrub" -> ((s, dir) =>
      t(s, dir, "documents")
        // masking is sequential (URLs first), so the email count runs on
        // the URL-masked intermediate — n_emails equals the number of
        // <EMAIL> tokens actually emitted (an address inside a URL's
        // query string is already covered by <URL>, not double-reported)
        .withColumn("_nourl",
          regexp_replace(col("text"), TextQueries.UrlRe, "<URL>"))
        .select(
          col("doc_id"),
          regexp_replace(col("_nourl"), TextQueries.EmailRe, "<EMAIL>")
            .as("scrubbed"),
          size(regexp_extract_all(col("text"), lit(TextQueries.UrlRe), lit(0)))
            .as("n_urls"),
          size(regexp_extract_all(col("_nourl"), lit(TextQueries.EmailRe), lit(0)))
            .as("n_emails"))
        .orderBy(col("doc_id"))),

    // repetition-based quality stats (public MassiveText/Gopher-style
    // filters): most-frequent-token fraction and duplicate-bigram
    // fraction. Token counts come from the local term_counts kernel —
    // per-row compute, no shuffle except the final sort.
    "q82_text_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          expr("array_max(transform(term_counts(toks), x -> x.cnt))").as("top_cnt"),
          expr("""transform(slice(toks, 1, size(toks) - 1),
                 |  (x, i) -> concat_ws(' ', x, element_at(toks, i + 2)))"""
            .stripMargin).as("bigrams"))
        .select(
          col("doc_id"), col("n_tokens"),
          round(col("top_cnt").cast("double") / col("n_tokens"), 6)
            .as("top_token_frac"),
          when(size(col("bigrams")) === 0, lit(0.0))
            .otherwise(round(lit(1.0) -
              size(array_distinct(col("bigrams"))).cast("double") /
                size(col("bigrams")), 6))
            .as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // hashed-linear classifier scoring (the fasttext-style "model-score
    // gate" of corpus filtering): each token hashes into one of D weight
    // buckets, the doc's score is the mean bucket weight. The weight
    // table here is a deterministic stand-in (a real model would ship
    // its D weights as a broadcast array — same plan shape); everything
    // up to the final division is integer-exact, and the whole score is
    // per-row codegen'd compute — linear, zero shuffles before the sort.
    "q87_quality_classifier" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val weights = transform(toks, tk =>
        (tokenHash(tk) % ClassifierD) * 40503L % 2001L - 1000L)
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          aggregate(weights, lit(0L), (acc, x) => acc + x).as("score_sum"))
        // integer-exact 6-dp rounding, half away from zero: the score
        // is a small-denominator rational (1043/16000 = 0.0651875 hit
        // an exact .5e-6 tie at sf0.1) where the engines' double
        // rounding disagrees. lit(1000L) keeps the denominator in
        // 64-bit — an int 1000*n_tokens product would wrap first.
        .withColumn("score", round6Signed(col("score_sum"),
          lit(1000L) * greatest(col("n_tokens"), lit(1))))
        .withColumn("keep", (col("score") > 0).cast("int"))
        .orderBy(col("doc_id"))
    }),

    // context-window chunking: split each document into overlapping
    // token windows (size ChunkC, stride ChunkS) — the step that turns a
    // corpus into training sequences. Chunk starts come from a generated
    // sequence, the window is a slice: per-row compute that explodes to
    // ~n_tokens/stride rows, no shuffle except the output sort. The
    // final window is allowed to run short (slice past the end truncates
    // identically in both engines).
    "q88_doc_chunks" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val starts = sequence(
        lit(1), greatest(size(toks) - (ChunkC - 1), lit(1)), lit(ChunkS))
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(transform(starts, i => slice(toks, i, lit(ChunkC)))))
        .select(
          col("doc_id"),
          (col("pos") + 1).as("chunk_no"),
          size(col("col")).as("n_chunk_tokens"),
          array_join(col("col"), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_no"))
    }),

    // vocabulary coverage: top-K corpus terms by frequency with the
    // running fraction of all token occurrences they cover — the
    // precursor to building a tokenizer vocabulary ("how many types
    // cover 95% of tokens"). One partial+final count shuffle on term;
    // top-K compiles to TakeOrderedAndProject (per-partition heaps, no
    // global sort); the running sum's single-partition window sees only
    // the K survivors, and the corpus total is an aggregate of the
    // (small) per-term counts — the raw token stream is scanned once.
    "q92_vocab_coverage" -> ((s, dir) => {
      val terms = t(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("term"))
      val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val total = broadcast(counts.agg(sum(col("cnt")).as("total")))
      val ord = Seq(col("cnt").desc, col("term"))
      val w = Window.orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts.orderBy(ord: _*).limit(VocabK)
        .crossJoin(total)
        .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
        .withColumn("cum", sum(col("cnt")).over(w))
        // integer-exact 6-dp rounding (see round6): cum/total can tie
        // at .5e-6 where the engines' double rounding disagrees
        .select(col("rank"), col("term"), col("cnt"),
          round6(col("cum"), col("total")).as("cum_frac"))
        .orderBy(col("rank"))
    }),

    // bigram-LM likelihood scoring — the CCNet perplexity-filter shape:
    // train an add-one-smoothed bigram model on the corpus, score every
    // doc by its mean bigram probability. Log-free and integer-exact
    // (like q68's ratio idf): each probability is the INTEGER
    // floor((c2+1)*1e6 / (c1+V)) so both engines agree bit-for-bit; the
    // per-doc mean divides two exact integers once at the end. Scale
    // shape: the bigram stream shuffles once to build counts(w1,w2) —
    // unigram counts roll up FROM those counts (partial agg over the
    // already-small model, not a second pass over the corpus) — then one
    // equi-join scores it; V (the smoothing vocabulary = distinct
    // bigram contexts w1) is a 1-row rollup of the model, broadcast —
    // so the corpus is scanned exactly twice (model build + scoring
    // probe; at 100 TB re-scanning beats persisting a bigram stream
    // that is larger than the source). Headroom: c2*1e6 stays < 2^63
    // until a single bigram repeats ~9e12 times.
    "q97_text_lmscore" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // tokenize into a BOUND column first, then pair via zip_with of two
      // shifted slices: a per-index element_at lambda re-evaluates the
      // tokenizer per element inside a generator (no CSE through
      // generators — measured 12× slower at sf0.1)
      val bg = docs
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), explode(
          zip_with(slice(col("tk"), lit(1), size(col("tk")) - 1),
            slice(col("tk"), lit(2), size(col("tk")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      // the MODEL is materialized once (localCheckpoint, small relative
      // to the corpus) — c1 and V roll up from it; without this Spark
      // re-derives the whole count chain per consumer (4 corpus scans)
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .materialize()
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val v = broadcast(c1.agg(count(lit(1)).as("v")))
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).crossJoin(v)
        .select(col("doc_id"), expr("(c2 + 1) * 1000000 div (c1 + v)").as("p"))
        .groupBy(col("doc_id"))
        // integer-exact 6-dp rounding (see round6): n_bigrams is an
        // unbounded per-doc count — at 2^7 of powers of two the plain
        // round() lands on a .5e-6 tie that the engines break differently
        .agg(count(lit(1)).as("n_bigrams"),
          round6(sum(col("p")), count(lit(1))).as("lm_score"))
        .orderBy(col("doc_id"))
    }),

    // text normalization: collapse consecutive duplicate tokens (the
    // intra-doc repetition cleanup every web-corpus pipeline runs before
    // scoring; whitespace runs already collapse in tokenization). Pure
    // per-row compute — no shuffle, scales linearly. Shared kernel:
    // TextFunctions.collapseConsecutive (also the pipeline's 0b stage).
    "q98_text_normalize" -> ((s, dir) => {
      val toksC = tokens(col("text"))
      val kept = collapseConsecutive(toksC)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toksC).cast("long").as("n_before"),
          size(kept).cast("long").as("n_after"),
          array_join(kept, " ").as("text_norm"))
        .orderBy(col("doc_id"))
    }),

    // corpus heavy hitters: EXACT tokens above a frequency threshold,
    // found without a full-token shuffle — per-partition Misra-Gries
    // proposes candidates (no false negatives for the threshold), an
    // exact recount over a broadcast semi join disposes. The oracle is
    // the naive GROUP BY HAVING; at 100 TB the MG path moves
    // O(partitions x candidates) rows where the oracle's shape moves
    // every token occurrence. See operators/HeavyHitters.scala.
    "q107_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("item"))
      graft.operators.HeavyHitters.exact(toks, "item", HhPpm)
        .select(col("item").as("token"), col("cnt"),
          // integer-exact: n_total carries arbitrary powers of two
          round6(col("cnt"), col("n_total")).as("frac"))
        .orderBy(col("token"))
    }),

    // Simpson diversity index per document: 1 - sum(c_i^2)/n^2 over
    // token counts — the probability two random tokens differ. A proper
    // diversity complement to q82's top-token/dup-bigram repetition
    // stats; integer-exact (numerator n^2 - sum c_i^2 is a whole
    // number), pure per-row compute, no shuffle before the sort.
    "q108_token_diversity" -> ((s, dir) => {
      val toksC = tokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toksC).cast("long").as("n_tokens"),
          expr("aggregate(transform(term_counts(" +
            "split(trim(text), '\\\\s+')), x -> CAST(x.cnt AS BIGINT) * x.cnt), " +
            "CAST(0 AS BIGINT), (a, b) -> a + b)").as("sum_sq"))
        .select(col("doc_id"), col("n_tokens"),
          round6(col("n_tokens") * col("n_tokens") - col("sum_sq"),
            col("n_tokens") * col("n_tokens")).as("simpson"))
        .orderBy(col("doc_id"))
    }),

    // pairwise total-variation distance between per-source unigram
    // distributions — the "how different are my sources, really"
    // input to mixture design (q77/q101). TV = ½·Σ|p_a − p_b| over the
    // union vocab, computed ENTIRELY in integer space: the numerator is
    // Σ_{t∈A∩B}|c_a·N_b − c_b·N_a| + 2·N_a·N_b − N_b·Σc_a − N_a·Σc_b
    // (the union-only terms folded in via the totals), so there is no
    // per-token double division to drift and no transcendental (a KL
    // spelling would put ln() parity at the engines' libm mercy).
    // Shape: one corpus-wide (source, token) count groupBy, then ALL
    // joins are on the count table (vocab × sources rows — metadata-
    // sized next to the corpus) — the token-keyed self-join is the 100
    // TB path, pairwise only in #sources.
    "q110_source_tv" -> ((s, dir) => {
      val cnts = t(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .materialize() // consumed 3x; the corpus scan happens once
      val totals = cnts.groupBy("source").agg(sum("c").as("n"))
      val wt = cnts.join(broadcast(totals), "source")
      val l = wt.select(col("tok"), col("source").as("src_a"),
        col("c").as("ca"), col("n").as("na"))
      val r = wt.select(col("tok"), col("source").as("src_b"),
        col("c").as("cb"), col("n").as("nb"))
      val sums = l.join(r, Seq("tok")).where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(sum(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("s_abs"),
          sum(col("ca")).as("s_ca"), sum(col("cb")).as("s_cb"),
          count(lit(1)).as("n_common"))
      // disjoint-vocab pairs never meet in the self-join: seed from the
      // (tiny) source cross product so they surface with tv = 1
      val pairs = totals.select(col("source").as("src_a"), col("n").as("na"))
        .crossJoin(totals.select(col("source").as("src_b"), col("n").as("nb")))
        .where(col("src_a") < col("src_b"))
      pairs.join(sums, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          round6(
            coalesce(col("s_abs"), lit(0L))
              + lit(2L) * col("na") * col("nb")
              - col("nb") * coalesce(col("s_ca"), lit(0L))
              - col("na") * coalesce(col("s_cb"), lit(0L)),
            lit(2L) * col("na") * col("nb")).as("tv"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // real BPE token counts (rows-only: the merge loop is sequential —
    // BpeSpec pins the textbook merge sequence, greedy encoding,
    // losslessness, and count monotonicity). The merge table is learned
    // ONCE per dataset from the word-frequency census (one corpus
    // aggregation, driver state capped at maxWords) and cached like the
    // ANN indexes; encoding is a codegen'd per-row kernel — this is the
    // subword sibling of q60's whitespace counts, feeding the same
    // token-budget operators (q84/q102) with tokenizer-true numbers.
    "q121_bpe_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = bpeCache.getOrElseUpdate(dir,
        graft.operators.Bpe.learn(docs, "text", numMerges = 200))
      docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_words"),
        graft.operators.Bpe.countExpr(col("text"), model).cast("long")
          .as("n_pieces"))
        .orderBy(col("doc_id"))
    }),

    // q121's ORACLE-EXACT twin (shrinking the no-oracle set, like
    // q119b): BPE is "inherently sequential", but both halves bound
    // their sequential depth — learning iterates over the WORD DICT
    // (numMerges steps), encoding over one word's symbols (≤ word
    // length) — so both are expressible as DuckDB recursive CTEs:
    // learning carries the exploded (word, pos, symbol) state and picks
    // each step's argmax pair with the same (count DESC, pair ASC)
    // tie-break; leftmost-non-overlapping merge application is the
    // run-parity rule (a match is taken iff its consecutive-match run
    // prefix has even length); encoding merges the lowest-rank leftmost
    // pair per word per step. 30 merges (not q121's 200) keep the twin
    // NON-degenerate: this corpus's 31-word vocabulary exhausts all
    // pairs by merge ~93, after which every word is one piece and the
    // oracle would collapse to n_pieces = n_words. All-integer/string
    // computation — no float concerns anywhere.
    "q121b_bpe_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = bpeCache.getOrElseUpdate(dir + "#30",
        graft.operators.Bpe.learn(docs, "text", numMerges = 30))
      docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_words"),
        graft.operators.Bpe.countExpr(col("text"), model).cast("long")
          .as("n_pieces"))
        .orderBy(col("doc_id"))
    }),

    // tokenizer fertility per language (pieces/word under the learned
    // subword vocab — the number a token-budget planner multiplies word
    // counts by; high-fertility languages burn budget faster). Shares
    // q121b's 30-merge model and its oracle's full BPE-in-SQL
    // construction; the ratio is the integer-exact 6-dp rational.
    "q157_tokenizer_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = bpeCache.getOrElseUpdate(dir + "#30",
        graft.operators.Bpe.learn(docs, "text", numMerges = 30))
      docs.select(col("lang"),
          size(tokens(col("text"))).cast("long").as("w"),
          graft.operators.Bpe.countExpr(col("text"), model).cast("long").as("p"))
        .groupBy(col("lang"))
        .agg(sum(col("w")).as("n_words"), sum(col("p")).as("n_pieces"))
        .withColumn("fertility", round6(col("n_pieces"), col("n_words")))
        .orderBy(col("lang"))
    }),

    // Gopher-style rule battery (Rae et al. 2021 §A1.1, the public
    // quality-filter rule set behind MassiveText — the batch sibling of
    // q61's composite score): per-doc word count bounds, mean word
    // length bounds, alphabetic-token fraction, distinct-stopword
    // presence, and the combined pass/fail gate. Every predicate is
    // INTEGER arithmetic (bounds cross-multiplied, mean via round6) so
    // the oracle matches exactly; pure per-row compute, zero shuffles
    // before the output sort — linear at any corpus size.
    "q156_gopher_rules" -> ((s, dir) => {
      val tk = tokens(col("text"))
      val sw = graft.functions.TextFunctions.stopwordSeq
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(tk).cast("long").as("_n"),
          aggregate(tk, lit(0L), (a, x) => a + length(x)).as("_chars"),
          size(filter(tk, x => x.rlike("^[A-Za-z]+$"))).cast("long").as("_alpha"),
          size(array_distinct(filter(tk,
            x => x.isin(sw.map(w => w: Any): _*)))).cast("long").as("_stopd"))
        .select(col("_n").as("n_words"),
          when(col("_n") === 0, lit(0.0))
            .otherwise(round6(col("_chars"), col("_n"))).as("mean_wlen"),
          col("_alpha").as("n_alpha"),
          col("_stopd").as("n_stop_distinct"),
          (col("_n") >= 50 && col("_n") <= 100000 &&
            col("_chars") >= lit(3L) * col("_n") &&
            col("_chars") <= lit(10L) * col("_n") &&
            lit(5L) * col("_alpha") >= lit(4L) * col("_n") &&
            col("_stopd") >= 2).as("passes"),
          col("doc_id"))
        .select(col("doc_id"), col("n_words"), col("mean_wlen"),
          col("n_alpha"), col("n_stop_distinct"), col("passes"))
        .orderBy(col("doc_id"))
    }),

    // C4-style blocklist gate (Raffel et al. 2020 §2.2's "bad words"
    // filter; RefinedWeb runs the same stage): flag documents by
    // blocked-TOKEN density plus blocked-PHRASE presence. All per-row
    // codegen'd built-ins against plan-literal term arrays — for lists
    // up to a few thousand terms the membership probe is a broadcast-
    // free literal; the gate is integer cross-multiplied (no division).
    // Phrase matching runs on the whitespace-normalized re-join with
    // sentinel spaces, so token boundaries can't false-positive
    // ("fast merges" does not contain the phrase " fast merge ").
    "q163_blocklist_gate" -> ((s, dir) => {
      val blockArr = array(BlockTerms.map(lit): _*)
      val tk = col("tk")
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(tk).cast("long").as("n_toks"),
          size(filter(tk, x => array_contains(blockArr, x)))
            .cast("long").as("n_hits"),
          array_join(array_sort(array_intersect(array_distinct(tk),
            blockArr)), ",").as("hit_terms"),
          concat(lit(" "), array_join(tk, " "), lit(" "))
            .contains(s" $BlockPhrase ").as("phrase_hit"))
        .withColumn("passes",
          lit(100L) * col("n_hits") <= col("n_toks") && !col("phrase_hit"))
        .orderBy(col("doc_id"))
    }),

    // token frequency-of-frequencies spectrum (the Good–Turing frontier
    // / Zipf-tail census): for each occurrence count, how many types
    // carry it and what share of types and of token mass — the report
    // behind vocab-size and smoothing decisions (how much mass sits on
    // hapaxes is the first number a tokenizer review asks for). Two
    // keyed aggregations (token → count, count → types), totals ride a
    // broadcast 1-row frame; all-integer with shared round6 shares.
    "q170_freq_spectrum" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
        .where(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val spec = tf.groupBy(col("freq")).agg(count(lit(1)).as("n_types"))
      val totals = spec.agg(sum(col("n_types")).as("v"),
        sum(col("freq") * col("n_types")).as("n"))
      spec.crossJoin(broadcast(totals))
        .select(col("freq"), col("n_types"),
          (col("freq") * col("n_types")).as("mass_tokens"),
          round6(col("n_types"), col("v")).as("type_share"),
          round6(col("freq") * col("n_types"), col("n")).as("token_share"))
        .orderBy(col("freq"))
    }),

    // Heaps-law vocabulary growth curve: cumulative distinct-token
    // count as the corpus is consumed in 20 equal doc_id slices — the
    // "is more data still adding vocabulary?" diagnostic for corpus
    // collection. O(n) formulation: each token contributes exactly to
    // the slice where it FIRST appears (min-bucket aggregate), so the
    // curve is two linear aggregations + a 20-row cumulative window —
    // never a per-slice distinct count (20 distinct scans) and never a
    // re-scan per checkpoint.
    "q138_vocab_growth" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val d = docs.crossJoin(broadcast(mx))
        .select(col("doc_id"), col("text"),
          expr(s"doc_id div ((mx div $VocabSlices) + 1)").as("bucket"))
      val newPerB = d
        .select(col("bucket"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(min(col("bucket")).as("fb"))
        .groupBy(col("fb")).agg(count(lit(1)).as("new_tokens"))
      val docB = d.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      // 20-row frame: the global-order window is metadata-sized
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docB.join(newPerB, col("bucket") === col("fb"), "left")
        .select(col("bucket"), col("n_docs"),
          coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
        .withColumn("n_docs_cum", sum(col("n_docs")).over(w))
        .withColumn("vocab_cum", sum(col("new_tokens")).over(w))
        .select(col("bucket"), col("n_docs_cum"), col("new_tokens"),
          col("vocab_cum"))
        .orderBy(col("bucket"))
    }),

    // characteristic terms per source: top-5 tokens by exact integer
    // lift — rate-in-source / rate-in-corpus = c_st·tot / (tot_s·c_t)
    // — the "what makes this source different" report (log-free
    // pointwise-MI twin of q132's pair lift). Support floor ≥5 keeps
    // hapax noise out; ranking key is the ROUNDED integer score so ties
    // are deterministic in both engines (then token asc). Selection
    // rides TopKPerGroup's bounded map-side heaps; the vocab-sized
    // token-total frame joins by key (no broadcast of the vocabulary).
    "q139_characteristic_terms" -> ((s, dir) => {
      val st = t(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
        .materialize() // feeds the three totals + the scored frame
      val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("tot_s"))
      val tokTot = st.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
      val grand = st.agg(sum(col("c_st")).as("tot"))
      val scored = st.where(col("c_st") >= MinTermSupport)
        .join(broadcast(srcTot), "source")
        .join(tokTot, "tok")
        .crossJoin(broadcast(grand))
        .withColumn("num", mulGuard(col("c_st"), col("tot"), "term lift num"))
        .withColumn("den", mulGuard(col("tot_s"), col("c_t"), "term lift den"))
        // the ×2e6 rounding scale gets its own guard (q132's idiom):
        // DuckDB widens to HUGEINT here, so a quiet Spark wrap would
        // silently reorder the top-5 instead of failing loudly
        .withColumn("sc_n", mulGuard(col("num"), lit(2000000L), "term lift scale"))
        .withColumn("sc_i", expr("(sc_n + den) div (den * 2)"))
        .select(col("source"), col("tok"), col("sc_i"))
      graft.operators.TopKPerGroup
        .topK(scored, Seq("source"), "sc_i", Seq("tok"), TermTopK)
        .select(col("source"), col("rn").cast("long").as("rn"), col("tok"),
          (col("sc_i").cast("double") / 1000000.0).as("lift"))
        .orderBy(col("source"), col("rn"))
    })
  )

  private val bpeCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.Bpe.Model]

  // q107 heavy-hitter threshold: 1/30 of all token occurrences (ppm) —
  // sits mid-distribution on the fixture (the 31-token vocab splits
  // ~half above / half below at both sf0.01 and sf0.1), so the filter
  // genuinely discriminates and the MG decrement path fires (k = 31)
  // q163 blocklist: two terms present in the synthetic vocabulary (so
  // both the hit and the density-fail paths fire) + one absent (the
  // no-op path); the phrase is a real vocabulary bigram
  private val BlockTerms = Seq("slow", "legacy", "merge")
  private val BlockPhrase = "fast merge"
  private def blockSqlList =
    BlockTerms.map(t => s"'$t'").mkString("[", ", ", "]")

  private val HhPpm = 33333L
  private val VocabSlices = 20 // q138 curve resolution
  private val MinTermSupport = 5 // q139 hapax floor
  private val TermTopK = 5 // q139 terms per source

  // q92: vocabulary prefix size to report coverage for
  private val VocabK = 50

  // q88 training-sequence geometry: 32-token windows, 8-token overlap
  private val ChunkC = 32
  private val ChunkS = 24

  // weight-table size for q87 (power of two, like a real hashing trick)
  private val ClassifierD = 1024L

  // conservative RE2-and-Java-compatible patterns (no backrefs or
  // lookaround) so Spark and the DuckDB oracle match exactly
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val UrlRe = "(?i)https?://\\S+" // (?i): schemes leak in any case

  /** The shared BPE-in-SQL machinery (census -> 30-merge learning ->
    * greedy encoding -> per-word piece counts) used by BOTH q121b and
    * q157's oracles — one construction, two final SELECTs. */
  private val bpeSqlPrefix: String =
    """WITH RECURSIVE
        |wtok AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0),
        |dict AS (
        |  SELECT w, count(*) AS c FROM wtok GROUP BY w
        |  ORDER BY c DESC, w LIMIT 100000),
        |linit AS (
        |  SELECT w, c, i AS pos,
        |    CASE WHEN i = length(w) THEN substr(w, i, 1) || '</w>'
        |         ELSE substr(w, i, 1) END AS sym
        |  FROM (SELECT w, c, unnest(generate_series(1, length(w))) AS i FROM dict)),
        |learn(it, w, c, pos, sym, ma, mb) AS (
        |  SELECT 0, w, c, pos, sym, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM linit
        |  UNION ALL
        |  (WITH cur AS (SELECT it, w, c, pos, sym FROM learn
        |                WHERE w IS NOT NULL AND it < 30),
        |    pairs AS (SELECT it, w, c, pos, sym AS a,
        |        lead(sym) OVER (PARTITION BY w ORDER BY pos) AS b FROM cur),
        |    best AS (SELECT a, b FROM pairs WHERE b IS NOT NULL
        |             GROUP BY a, b ORDER BY sum(c) DESC, a, b LIMIT 1),
        |    marked AS (SELECT p.it, p.w, p.c, p.pos, p.a AS sym, p.b AS nxt,
        |        coalesce(p.a = (SELECT a FROM best) AND p.b = (SELECT b FROM best),
        |          FALSE) AS m
        |      FROM pairs p),
        |    isl AS (SELECT *, CASE WHEN m THEN
        |          pos - row_number() OVER (PARTITION BY w, m ORDER BY pos) END AS grp
        |      FROM marked),
        |    tk AS (SELECT *, m AND (row_number() OVER (PARTITION BY w, grp ORDER BY pos)
        |          % 2 = 1) AS taken FROM isl),
        |    appl AS (SELECT it, w, c,
        |        row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
        |        CASE WHEN taken THEN sym || nxt ELSE sym END AS sym
        |      FROM (SELECT *, coalesce(lag(taken) OVER (PARTITION BY w ORDER BY pos),
        |              FALSE) AS dropped FROM tk)
        |      WHERE NOT dropped)
        |  SELECT it + 1, w, c, pos, sym, NULL, NULL FROM appl
        |    WHERE EXISTS (SELECT 1 FROM best)
        |  UNION ALL
        |  SELECT (SELECT max(it) FROM cur) + 1, NULL, NULL, NULL, NULL, a, b FROM best)
        |),
        |merges AS (
        |  SELECT it - 1 AS rank, ma, mb FROM learn WHERE ma IS NOT NULL),
        |einit AS (
        |  SELECT w, i AS pos,
        |    CASE WHEN i = length(w) THEN substr(w, i, 1) || '</w>'
        |         ELSE substr(w, i, 1) END AS sym
        |  FROM (SELECT w, unnest(generate_series(1, length(w))) AS i
        |        FROM (SELECT DISTINCT w FROM wtok))),
        |enc(it, w, pos, sym) AS (
        |  SELECT 0, w, pos, sym FROM einit
        |  UNION ALL
        |  (WITH cur AS (SELECT * FROM enc WHERE it < 1000),
        |    pairs AS (SELECT it, w, pos, sym AS a,
        |        lead(sym) OVER (PARTITION BY w ORDER BY pos) AS b FROM cur),
        |    cand AS (SELECT p.*, m.rank FROM pairs p
        |        JOIN merges m ON m.ma = p.a AND m.mb = p.b),
        |    sel AS (SELECT w, pos FROM (
        |        SELECT w, pos, row_number() OVER (PARTITION BY w
        |            ORDER BY rank, pos) AS rn FROM cand)
        |      WHERE rn = 1)
        |  SELECT it + 1, w,
        |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
        |    CASE WHEN pos = mpos THEN sym || nxt ELSE sym END AS sym
        |  FROM (SELECT c.it, c.w, c.pos, c.sym,
        |      lead(c.sym) OVER (PARTITION BY c.w ORDER BY c.pos) AS nxt,
        |      s.pos AS mpos
        |    FROM cur c JOIN sel s ON s.w = c.w)
        |  WHERE pos <> mpos + 1)
        |),
        |pieces AS (
        |  SELECT w, count(*) AS np FROM enc e
        |  WHERE it = (SELECT max(it) FROM enc e2 WHERE e2.w = e.w)
        |  GROUP BY w)
""".stripMargin

  val oracles: Map[String, String] = Map(
    "q172_length_quantiles" ->
      s"""WITH d AS (SELECT CAST(len(string_split_regex(trim(text), '\\s+'))
         |    AS BIGINT) AS n_toks FROM documents),
         |r AS (SELECT n_toks, row_number() OVER (ORDER BY n_toks) AS rn,
         |    CAST(count(*) OVER () AS BIGINT) AS n FROM d),
         |tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS total_tokens FROM d)
         |SELECT max(n) AS n_docs,
         |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_toks END) AS BIGINT) AS p50,
         |  CAST(max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_toks END) AS BIGINT) AS p90,
         |  CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_toks END) AS BIGINT) AS p99,
         |  CAST(max(CASE WHEN rn = (n * 999 + 999) // 1000 THEN n_toks END) AS BIGINT) AS p999,
         |  max(total_tokens) AS total_tokens,
         |  ${oRound6("max(total_tokens)", "max(n)")} AS mean_toks
         |FROM r, tot""".stripMargin,

    "q170_freq_spectrum" ->
      s"""WITH tk AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
         |    AS tok FROM documents),
         |tf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM tk
         |  WHERE length(tok) > 0 GROUP BY tok),
         |spec AS (SELECT freq, CAST(COUNT(*) AS BIGINT) AS n_types
         |  FROM tf GROUP BY freq),
         |tot AS (SELECT CAST(SUM(n_types) AS BIGINT) AS v,
         |    CAST(SUM(freq * n_types) AS BIGINT) AS n FROM spec)
         |SELECT freq, n_types,
         |  CAST(freq * n_types AS BIGINT) AS mass_tokens,
         |  ${oRound6("n_types", "v")} AS type_share,
         |  ${oRound6("freq * n_types", "n")} AS token_share
         |FROM spec, tot ORDER BY freq""".stripMargin,

    "q163_blocklist_gate" ->
      s"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         |c AS (SELECT doc_id, tk,
         |    CAST(len(tk) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(tk,
         |      t -> list_contains($blockSqlList, t))) AS BIGINT) AS n_hits,
         |    contains(' ' || array_to_string(tk, ' ') || ' ',
         |      ' $BlockPhrase ') AS phrase_hit
         |  FROM d)
         |SELECT doc_id, n_toks, n_hits,
         |  coalesce(array_to_string(list_sort(list_distinct(list_filter(tk,
         |    t -> list_contains($blockSqlList, t)))), ','), '') AS hit_terms,
         |  phrase_hit,
         |  (100 * n_hits <= n_toks AND NOT phrase_hit) AS passes
         |FROM c ORDER BY doc_id""".stripMargin,

    // the Gopher battery's oracle: same integer cross-multiplied
    // bounds, mean via the shared 6-dp integer rounding
    "q156_gopher_rules" ->
      s"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         |c AS (SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n,
         |    CAST(coalesce(list_sum(list_transform(tk, t -> length(t))), 0)
         |      AS BIGINT) AS chars,
         |    CAST(len(list_filter(tk,
         |      t -> regexp_full_match(t, '[A-Za-z]+'))) AS BIGINT) AS alpha,
         |    CAST(len(list_distinct(list_filter(tk,
         |      t -> list_contains($stopwordsSqlList, t)))) AS BIGINT) AS stopd
         |  FROM d)
         |SELECT doc_id, n AS n_words,
         |  CASE WHEN n = 0 THEN 0.0 ELSE ${graft.queries.oRound6("chars", "n")} END
         |    AS mean_wlen,
         |  alpha AS n_alpha, stopd AS n_stop_distinct,
         |  (n >= 50 AND n <= 100000 AND chars >= 3 * n AND chars <= 10 * n
         |    AND 5 * alpha >= 4 * n AND stopd >= 2) AS passes
         |FROM c ORDER BY doc_id""".stripMargin,

    // the BPE twin: learning + encoding as recursive CTEs (see the
    // q121b query comment for the construction; verified against an
    // independent reimplementation of the Sennrich algorithm before
    // wiring). Working-table semantics: each step sees only the
    // previous iteration's rows, which is exactly the sequential state.
    "q121b_bpe_exact" ->
      (bpeSqlPrefix + "\n" +
      """        |SELECT d.doc_id,
        |  CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n_words,
        |  CAST(coalesce(s.np_sum, 0) AS BIGINT) AS n_pieces
        |FROM documents d LEFT JOIN (
        |  SELECT t.doc_id, sum(p.np) AS np_sum
        |  FROM wtok t JOIN pieces p USING (w) GROUP BY t.doc_id) s
        |  ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // fertility over the same BPE construction: pieces/words per lang
    "q157_tokenizer_fertility" ->
      (bpeSqlPrefix + "\n" +
      """SELECT lang, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_pieces AS BIGINT) AS n_pieces,
        |  CAST(((n_pieces) * 2000000 + (n_words)) // ((n_words) * 2) AS DOUBLE)
        |    / 1000000.0 AS fertility
        |FROM (
        |  SELECT d.lang,
        |    SUM(CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT))
        |      AS n_words,
        |    SUM(CAST(coalesce(s.np_sum, 0) AS BIGINT)) AS n_pieces
        |  FROM documents d LEFT JOIN (
        |    SELECT t.doc_id, sum(p.np) AS np_sum
        |    FROM wtok t JOIN pieces p USING (w) GROUP BY t.doc_id) s
        |    ON s.doc_id = d.doc_id
        |  GROUP BY d.lang)
        |ORDER BY lang""".stripMargin),

    "q60_text_tokens" ->
      s"""SELECT doc_id,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         |  len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct,
         |  ${bpeTokenCountSql("text")} AS n_bpe,
         |  length(text) AS n_chars_txt
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q61_text_quality" ->
      s"""SELECT doc_id,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         |  len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> list_contains($stopwordsSqlList, t))) AS n_stop,
         |  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         |  ${qualityScoreSql("text")} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q62_text_langid" ->
      s"""SELECT lang, ${langIdSql("text")} AS lang_pred, COUNT(*) AS n
         |FROM documents GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,

    "q63_text_fingerprint" ->
      s"""SELECT doc_id, ${charFingerprintSql("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q68_text_tfidf" ->
      s"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toks,
         |    len(string_split_regex(trim(text), '\\s+')) AS n_tok
         |  FROM documents),
         |terms AS (SELECT doc_id, n_tok, unnest(toks) AS term FROM d),
         |tf AS (SELECT doc_id, n_tok, term, COUNT(*) AS cnt
         |       FROM terms GROUP BY doc_id, n_tok, term),
         |dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT doc_id, term,
         |  ${oRound6("cnt * n_docs", "n_tok * df_t")} AS score
         |FROM tf JOIN dfreq USING (term) CROSS JOIN n
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) = 1
         |ORDER BY doc_id""".stripMargin,

    "q81_text_scrub" ->
      s"""WITH u AS (SELECT doc_id, text,
         |    regexp_replace(text, '$UrlRe', '<URL>', 'g') AS nourl
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(nourl, '$EmailRe', '<EMAIL>', 'g') AS scrubbed,
         |  len(regexp_extract_all(text, '$UrlRe')) AS n_urls,
         |  len(regexp_extract_all(nourl, '$EmailRe')) AS n_emails
         |FROM u ORDER BY doc_id""".stripMargin,

    "q82_text_repetition" ->
      s"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |s AS (SELECT doc_id, toks, len(toks) AS n_tokens,
         |    list_max(list_transform(list_distinct(toks),
         |      t -> len(list_filter(toks, x -> x = t)))) AS top_cnt,
         |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
         |      i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
         |  FROM d)
         |SELECT doc_id, n_tokens,
         |  round(CAST(top_cnt AS DOUBLE) / n_tokens, 6) AS top_token_frac,
         |  CASE WHEN len(bigrams) = 0 THEN 0.0
         |       ELSE round(1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
         |                        / len(bigrams), 6) END AS dup_bigram_frac
         |FROM s ORDER BY doc_id""".stripMargin,

    "q87_quality_classifier" ->
      s"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |s AS (SELECT doc_id, len(toks) AS n_tokens,
         |    CAST(list_sum(list_transform(toks, t ->
         |      ((${tokenHashSql("t")}) % $ClassifierD) * 40503 % 2001 - 1000))
         |      AS BIGINT) AS score_sum
         |  FROM d),
         |sc AS (SELECT doc_id, n_tokens, score_sum,
         |    ${oRound6Signed("score_sum", "1000 * greatest(n_tokens, 1)")} AS score
         |  FROM s)
         |SELECT doc_id, n_tokens, score_sum, score,
         |  CAST(score > 0 AS INT) AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q88_doc_chunks" ->
      s"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |c AS (SELECT doc_id,
         |    list_transform(
         |      generate_series(1, greatest(len(toks) - ${ChunkC - 1}, 1), $ChunkS),
         |      i -> list_slice(toks, i, i + ${ChunkC - 1})) AS chunks
         |  FROM d),
         |u AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(chunks)),
         |    j -> {'no': j, 'ch': chunks[j]})) AS s FROM c)
         |SELECT doc_id, CAST(s.no AS INT) AS chunk_no,
         |  CAST(len(s.ch) AS INT) AS n_chunk_tokens,
         |  array_to_string(s.ch, ' ') AS chunk_text
         |FROM u ORDER BY doc_id, chunk_no""".stripMargin,

    "q92_vocab_coverage" ->
      s"""WITH terms AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
         |    AS term FROM documents),
         |c AS (SELECT term, COUNT(*) AS cnt FROM terms GROUP BY term),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
         |top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT $VocabK),
         |cum AS (SELECT term, cnt, total,
         |    SUM(cnt) OVER (ORDER BY cnt DESC, term ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM top CROSS JOIN tot)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS INT) AS rank,
         |  term, cnt,
         |  ${oRound6("cum", "total")} AS cum_frac
         |FROM cum ORDER BY rank""".stripMargin,

    "q97_text_lmscore" ->
      s"""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+')
         |    AS toksl FROM documents),
         |bg AS (SELECT doc_id, toksl[i] AS w1, toksl[i+1] AS w2
         |       FROM tok, UNNEST(range(1, len(toksl))) AS u(i)),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
         |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1),
         |sc AS (SELECT doc_id, (c2.c2 + 1) * 1000000 // (c1.c1 + v.v) AS p
         |       FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ${oRound6("SUM(p)", "COUNT(*)")} AS lm_score
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q98_text_normalize" ->
      s"""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+')
         |    AS toksl FROM documents),
         |n AS (SELECT doc_id, toksl,
         |  list_filter(list_transform(generate_series(1, len(toksl)),
         |    i -> CASE WHEN i = 1 OR toksl[i] <> toksl[i-1] THEN toksl[i] END),
         |    x -> x IS NOT NULL) AS kept
         |  FROM tok)
         |SELECT doc_id, CAST(len(toksl) AS BIGINT) AS n_before,
         |  CAST(len(kept) AS BIGINT) AS n_after,
         |  array_to_string(kept, ' ') AS text_norm
         |FROM n ORDER BY doc_id""".stripMargin,

    "q107_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
         |    AS token FROM documents),
         |tot AS (SELECT COUNT(*) AS n FROM toks),
         |cnts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token)
         |SELECT token, cnt, ${oRound6("cnt", "n")} AS frac
         |FROM cnts, tot
         |WHERE cnt * 1000000 >= $HhPpm * n
         |ORDER BY token""".stripMargin,

    "q108_token_diversity" ->
      s"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toksl FROM documents),
         |s AS (SELECT doc_id, CAST(len(toksl) AS BIGINT) AS n_tokens,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_distinct(toksl),
         |        t -> CAST(len(list_filter(toksl, x -> x = t)) AS BIGINT)
         |             * len(list_filter(toksl, x -> x = t)))),
         |      (a, b) -> a + b) AS sum_sq
         |  FROM d)
         |SELECT doc_id, n_tokens,
         |  ${oRound6("n_tokens * n_tokens - sum_sq", "n_tokens * n_tokens")}
         |    AS simpson
         |FROM s ORDER BY doc_id""".stripMargin,

    "q110_source_tv" ->
      s"""WITH toks AS (SELECT source, unnest(string_split_regex(trim(text),
         |    '\\s+')) AS tok FROM documents),
         |c AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY source),
         |wt AS (SELECT c.source, tok, c.c, tot.n FROM c JOIN tot USING (source)),
         |s AS (SELECT a.source AS src_a, b.source AS src_b,
         |        COUNT(*) AS n_common,
         |        CAST(SUM(abs(a.c * b.n - b.c * a.n)) AS BIGINT) AS s_abs,
         |        CAST(SUM(a.c) AS BIGINT) AS s_ca,
         |        CAST(SUM(b.c) AS BIGINT) AS s_cb
         |      FROM wt a JOIN wt b USING (tok) WHERE a.source < b.source
         |      GROUP BY 1, 2),
         |p AS (SELECT a.source AS src_a, a.n AS na, b.source AS src_b, b.n AS nb
         |      FROM tot a, tot b WHERE a.source < b.source)
         |SELECT src_a, src_b, COALESCE(n_common, 0) AS n_common,
         |  ${oRound6(
             "COALESCE(s_abs, 0) + 2 * na * nb" +
               " - nb * COALESCE(s_ca, 0) - na * COALESCE(s_cb, 0)",
             "2 * na * nb")} AS tv
         |FROM p LEFT JOIN s USING (src_a, src_b)
         |ORDER BY src_a, src_b""".stripMargin,

    "q138_vocab_growth" ->
      s"""WITH m AS (SELECT MAX(doc_id) AS mx FROM documents),
         |d AS (SELECT doc_id, text,
         |    doc_id // ((mx // $VocabSlices) + 1) AS bucket
         |  FROM documents, m),
         |fb AS (SELECT tok, MIN(bucket) AS fb FROM
         |    (SELECT bucket, unnest(string_split_regex(trim(text), '\\s+'))
         |       AS tok FROM d)
         |  GROUP BY tok),
         |nb AS (SELECT fb AS bucket, COUNT(*) AS new_tokens FROM fb GROUP BY fb),
         |db AS (SELECT bucket, COUNT(*) AS n_docs FROM d GROUP BY bucket)
         |SELECT db.bucket,
         |  CAST(SUM(n_docs) OVER (ORDER BY db.bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_docs_cum,
         |  COALESCE(new_tokens, 0) AS new_tokens,
         |  CAST(SUM(COALESCE(new_tokens, 0)) OVER (ORDER BY db.bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS vocab_cum
         |FROM db LEFT JOIN nb ON db.bucket = nb.bucket
         |ORDER BY db.bucket""".stripMargin,

    "q139_characteristic_terms" ->
      s"""WITH tk AS (SELECT source,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM documents),
         |st AS (SELECT source, tok, COUNT(*) AS c_st FROM tk GROUP BY 1, 2),
         |s AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS tot_s
         |  FROM st GROUP BY 1),
         |g AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
         |n AS (SELECT CAST(SUM(c_st) AS BIGINT) AS tot FROM st),
         |sc AS (SELECT st.source, st.tok,
         |    CAST((st.c_st * tot * 2000000 + (tot_s * c_t))
         |      // ((tot_s * c_t) * 2) AS BIGINT) AS sc_i
         |  FROM st JOIN s USING (source) JOIN g USING (tok) CROSS JOIN n
         |  WHERE c_st >= $MinTermSupport),
         |r AS (SELECT source, tok, sc_i,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY sc_i DESC, tok) AS rn FROM sc)
         |SELECT source, rn, tok, CAST(sc_i AS DOUBLE) / 1000000.0 AS lift
         |FROM r WHERE rn <= $TermTopK ORDER BY source, rn""".stripMargin
  )
}
