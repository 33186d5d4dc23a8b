package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Param

/** Text-analysis operators for LLM-pipeline data prep, over `documents`
  * (reference analogue: the scraped social/web text the agent ingests —
  * backend/src/api/services/db_service.py ingest_data / scrapers).
  *
  * Everything is built from codegen'd built-ins (split/filter/md5/regexp) —
  * no UDFs — so whole-stage codegen covers the full pipeline and the same
  * logic is expressible in the DuckDB oracle.
  */
object TextOps {

  /** 60-bit hash from md5 — the one hash function both engines share. */
  def h64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private def wordsCol: Column = split(lower(col("text")), " ")

  // T1 — marker-word language ID (n-gram heuristic): hit counts per
  // language's stopword set, argmax with a fixed tie-break order.
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def hits(ws: String*) : Column =
      size(filter(wordsCol, w => w.isInCollection(ws))).cast("long")
    Tables.documents(s, dir)
      .withColumn("en_hits", hits("the", "a", "of"))
      .withColumn("de_hits", hits("der", "die", "und"))
      .withColumn("fr_hits", hits("le", "la", "et"))
      .withColumn("pred_lang",
        when($"en_hits" >= $"de_hits" && $"en_hits" >= $"fr_hits" && $"en_hits" > 0, "en")
          .when($"de_hits" >= $"fr_hits" && $"de_hits" > 0, "de")
          .when($"fr_hits" > 0, "fr")
          .otherwise("und"))
      .select($"doc_id", $"en_hits", $"de_hits", $"fr_hits", $"pred_lang", $"lang")
      .orderBy($"doc_id")
  }

  // T2 — quality scoring: length / punctuation / stopword ratios.
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("len_chars", length($"text").cast("long"))
      .withColumn("n_words", size(wordsCol).cast("long"))
      .withColumn("n_punct",
        length(regexp_replace($"text", "[^.,;:!?]", "")).cast("long"))
      .withColumn("stop_hits",
        size(filter(wordsCol, w => w.isInCollection(Seq("the", "a", "of", "and")))).cast("long"))
      .withColumn("quality",
        round($"stop_hits".cast("double") / $"n_words"
          - $"n_punct".cast("double") / $"len_chars"
          + least(lit(1.0), $"n_words".cast("double") / 100.0), 4))
      .select($"doc_id", $"len_chars", $"n_words", $"n_punct", $"stop_hits", $"quality")
      .orderBy($"doc_id")
  }

  // T13 — quality-tier assignment (the quality-based mixing stage: train
  // on tier 4, downsample tier 1). The scale-correct shape: exact ntile
  // would be a GLOBAL ordered window (single partition — banned on
  // corpus-sized frames); instead the three quartile cuts come from one
  // sort-based percentile aggregate (distributed; R18's shape) and attach
  // as a single-row broadcast, so tier assignment is a codegen'd per-row
  // comparison. Cuts round to 4dp (the quality score's own precision) to
  // absorb interpolation-order float diff, as R18 does.
  def qualityTiers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = qualityScore(s, dir).select($"doc_id", $"quality")
    val cuts = scored.agg(
      expr("percentile(quality, array(0.25D, 0.5D, 0.75D))").as("cs"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("tier",
        when($"quality" > round(element_at($"cs", 3), 4), 4L)
          .when($"quality" > round(element_at($"cs", 2), 4), 3L)
          .when($"quality" > round(element_at($"cs", 1), 4), 2L)
          .otherwise(1L))
      .select($"doc_id", $"quality", $"tier")
      .orderBy($"doc_id")
  }

  // T3 — token counting: whitespace tokens + a BPE-ish regex tokenizer
  // (letter runs / single digits / single punctuation = disjoint classes,
  // so Java-regex and RE2 agree).
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("ws_tokens", size(split(trim($"text"), " +")).cast("long"))
      .withColumn("bpe_tokens",
        size(regexp_extract_all($"text", lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0))).cast("long"))
      .select($"doc_id", $"ws_tokens", $"bpe_tokens")
      .orderBy($"doc_id")
  }

  // T4 — document fingerprint: canonicalize (lowercase, distinct words,
  // sorted) then hash — robust to word order / repetition.
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("fp", md5(concat_ws(" ", array_sort(array_distinct(wordsCol)))))
      .select($"doc_id", $"fp")
      .orderBy($"doc_id")
  }

  // T6 — repetition signals (the Gopher-rule family): duplicate-word
  // fraction and top-bigram mass. Word stats stay IN-ROW (array functions,
  // no shuffle); only the bigram mode needs a per-doc aggregation — keyed
  // by doc_id (high cardinality), so it scales out like any groupBy.
  def repetition(s: SparkSession, dir: String): DataFrame =
    repetitionOn(Tables.documents(s, dir))

  /** T6 core over an arbitrary (doc_id, text) frame. */
  private[graft] def repetitionOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val d = docs.select($"doc_id", split(lower($"text"), " ").as("w"))
    val wn = d.select($"doc_id",
      size($"w").cast("long").as("n_words"),
      size(array_distinct($"w")).cast("long").as("n_distinct"))
    val bg = d.filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(w) - 1), " +
        "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))")).as("s"))
    val bgm = bg.groupBy($"doc_id", $"s").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("max_bg"), sum($"c").as("n_bg"))
    wn.join(bgm, "doc_id")
      .select($"doc_id", $"n_words",
        round(lit(1.0) - $"n_distinct".cast("double") / $"n_words", 6).as("dup_word_frac"),
        round($"max_bg".cast("double") / $"n_bg", 6).as("top_bigram_frac"))
      .orderBy($"doc_id")
  }

  /** Email/phone patterns shared by the redactor and its oracle — written
    * in the Java-regex ∩ RE2 common dialect (char classes + bounded
    * repetition only) so Spark and DuckDB match identical spans. */
  private[graft] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  // T7 — PII redaction: mask emails and phone numbers, report match
  // counts. The corpus is synthetic, so deterministic PII is injected
  // first (doc_id%3 gets an email, doc_id%4 a phone) — the redactor then
  // provably strips it (spec) and the oracle hash-checks counts + the
  // redacted text. Pure codegen'd regexp columns — no UDFs, no shuffle.
  def piiRedact(s: SparkSession, dir: String): DataFrame =
    piiRedactOn(Tables.documents(s, dir))

  /** T7 core over an arbitrary (doc_id, text) frame. */
  private[graft] def piiRedactOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("t", concat($"text",
        when($"doc_id" % 3 === 0,
          concat(lit(" Contact user"), $"doc_id".cast("string"),
            lit("@shop.example.com for details."))).otherwise(lit("")),
        when($"doc_id" % 4 === 0,
          concat(lit(" Call 555-"), lpad(($"doc_id" % 1000).cast("string"), 3, "0"),
            lit("-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
            lit(" now."))).otherwise(lit(""))))
      .select($"doc_id",
        size(regexp_extract_all($"t", lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all($"t", lit(phoneRe), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace($"t", emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>")).as("red_h"))
      .orderBy($"doc_id")
  }

  // T8 — vocabulary building (tokenizer-prep): corpus-wide word
  // frequencies, rank, and cumulative corpus coverage for the top-K.
  // The heavy part is one word-keyed groupBy (high cardinality, scales
  // out) + TakeOrderedAndProject for the top-K; the global ordered
  // window runs on the ALREADY-BOUNDED K rows, never the corpus, and
  // the total rides a single-row broadcast.
  def vocab(s: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .select(explode(split(lower($"text"), " ")).as("wrd"))
      .groupBy($"wrd").agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum($"tf").as("tot"))
    // partition-less by design: the window input is the ≤ topK rows the
    // TakeOrdered limit just produced, so the "No Partition Defined"
    // WindowExec warning it triggers is expected and bounded — the
    // single partition holds K rows, never the corpus
    val byFreq = Window.orderBy($"tf".desc, $"wrd")
    counts.orderBy($"tf".desc, $"wrd").limit(topK)
      .crossJoin(broadcast(total))
      .withColumn("rk", row_number().over(byFreq).cast("long"))
      .withColumn("cum_coverage", round(
        sum($"tf").over(byFreq.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double") / $"tot", 6))
      .select($"wrd", $"tf", $"rk", $"cum_coverage")
      .orderBy($"rk")
  }

  // T9 — BM25 fulltext relevance (the standard ranking model behind the
  // reference's fulltext product search): per-(doc, term) Okapi scores
  // from tf, df, and length normalization, summed per doc. Shapes: term
  // stats ride one doc-keyed aggregation; df and the corpus stats are
  // tiny single-row/per-term broadcasts; ranking is TakeOrdered. Float
  // parity with the oracle: avgdl derives from EXACT integer totals,
  // constants appear as identical literals on both engines (1.2+1
  // computed in binary64 ≠ the literal 2.2), per-term scores round to 6
  // before a DECIMAL-stabilized sum.
  def bm25(s: SparkSession, dir: String,
      query: String = "spark data table", topK: Int = 10): DataFrame = {
    import s.implicits._
    val terms = query.toLowerCase.split(" ").toSeq.distinct
    val docs = Tables.documents(s, dir)
      .select($"doc_id", wordsCol.as("w"))
      .withColumn("dl", size($"w").cast("double"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(size($"w")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs.select($"doc_id", $"dl", explode($"w").as("wrd"))
      .filter($"wrd".isInCollection(terms))
      .groupBy($"doc_id", $"dl", $"wrd")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfx = tf.groupBy($"wrd").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfx), "wrd")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", round(
        log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
          * ($"tf" * 2.2)
          / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")), 6))
      .groupBy($"doc_id")
      .agg(
        round(sum($"term_score".cast("decimal(18,6)")).cast("double"), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(topK)
  }

  // T10 — per-document TF-IDF keywords (the topic-tagging pass a training
  // pipeline runs to label/mix corpus slices): score = tf · log10(N/df),
  // top-k terms per doc. Shapes: per-(doc, word) tf and per-word df are
  // two aggregations with map-side combine; the tf⋈df join rides the word
  // key (vocabulary-sized right side — AQE broadcasts it when it fits,
  // as any real vocabulary does); ranking is a per-doc window, keyed by
  // doc_id so it scales out like any groupBy. Float parity with the
  // oracle: score rounds to 6dp before ranking, ties break on the word.
  def tfidfKeywords(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val tf = docs.select($"doc_id", explode(wordsCol).as("wrd"))
      .groupBy($"doc_id", $"wrd").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy($"wrd").agg(count(lit(1)).cast("double").as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("nd"))
    val byScore = Window.partitionBy($"doc_id").orderBy($"score".desc, $"wrd")
    tf.join(dfx, "wrd")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round($"tf" * log10($"nd" / $"df"), 6))
      .withColumn("rk", row_number().over(byScore).cast("long"))
      .filter($"rk" <= k)
      .select($"doc_id", $"wrd", $"tf", $"score", $"rk")
      .orderBy($"doc_id", $"rk")
  }

  // T11 — unigram log-probability quality score (the CCNet-style LM
  // filter proxy: documents whose words are improbable under the corpus
  // unigram model are noise/outliers; at real scale the reference model
  // is a KenLM trained upstream — here the corpus itself is the model,
  // which keeps the operator self-contained and exactly oracle-able).
  // mean_logprob = Σ tf·log10(cf/total) / Σ tf over the doc's words.
  // Shapes: one (doc, word) aggregation feeds BOTH the per-doc terms and
  // the corpus frequencies (map-side combine on each); the join rides the
  // word key; the total is a single-row broadcast. Float parity: per-word
  // logprob rounds to 6dp, per-row contribution rounds to 6dp and sums as
  // DECIMAL (order-independent at any partitioning). The final mean is
  // deliberately NOT rounded: the decimal sum is exact and the single
  // double division is the same IEEE op on both engines (bit-identical),
  // whereas a 6dp round can land on a .5 tie the engines break
  // differently (caught by the sf0.001 probe: -1.4781995 → -1.4782 in
  // DuckDB vs -1.478199 in Spark's BigDecimal HALF_UP).
  def unigramLogprob(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, dir)
      .select($"doc_id", explode(wordsCol).as("wrd"))
      .groupBy($"doc_id", $"wrd").agg(count(lit(1)).as("tf"))
    val wf = tf.groupBy($"wrd").agg(sum($"tf").as("cf"))
    val tot = wf.agg(sum($"cf").cast("double").as("tot"))
    tf.join(wf, "wrd")
      .crossJoin(broadcast(tot))
      .withColumn("lp", round(log10($"cf".cast("double") / $"tot"), 6))
      .withColumn("term", round($"tf" * $"lp", 6).cast("decimal(18,6)"))
      .groupBy($"doc_id")
      .agg(
        (sum($"term").cast("double") / sum($"tf")).as("mean_logprob"),
        sum($"tf").as("n_tokens"))
      .orderBy($"doc_id")
  }

  // T11b — bigram conditional log-probability (the second leg of the
  // CCNet-style LM quality proxy: T11 scores word plausibility, this
  // scores word-ORDER plausibility — shuffled or template-stitched text
  // keeps its unigram score but collapses here).
  // mean_logprob = Σ tf·log10(c(w1,w2)/c(w1·)) / Σ tf over the doc's
  // bigram occurrences, where c(w1·) = Σ_w2 c(w1,w2). Shapes: one
  // (doc, bigram) aggregation feeds the per-doc terms, the corpus bigram
  // counts, AND the prefix marginals (map-side combine on each); both
  // stat joins ride high-cardinality keys (bigram, then prefix word).
  // Same float discipline as T11: 6dp-rounded terms, DECIMAL sum,
  // un-rounded single IEEE division.
  def bigramLogprob(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bg = Tables.documents(s, dir)
      .select($"doc_id", wordsCol.as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(w) - 1), " +
        "i -> struct(element_at(w, i) AS w1, concat_ws(' ', element_at(w, i), element_at(w, i + 1)) AS s))")).as("e"))
      .select($"doc_id", $"e.w1", $"e.s")
    val tf = bg.groupBy($"doc_id", $"w1", $"s").agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy($"s").agg(sum($"tf").as("cf"))
    val c1 = tf.groupBy($"w1").agg(sum($"tf").as("c1"))
    tf.join(cf, "s").join(c1, "w1")
      .withColumn("lp", round(log10($"cf".cast("double") / $"c1".cast("double")), 6))
      .withColumn("term", round($"tf" * $"lp", 6).cast("decimal(18,6)"))
      .groupBy($"doc_id")
      .agg(
        (sum($"term").cast("double") / sum($"tf")).as("mean_logprob"),
        sum($"tf").as("n_bigrams"))
      .orderBy($"doc_id")
  }

  // T12 — "more like this": top-k documents most similar to a query doc
  // by Jaccard over the SAME df-capped bigram shingle sets the near-dup
  // family uses (the retrieval shape next to BM25: BM25 answers free-text
  // queries, this answers query-by-example). Shapes: the query doc's
  // shingle set is one bounded row — it broadcasts; candidates come from
  // the inverted index (docs sharing ≥1 capped shingle — the df cap
  // bounds the fanout exactly as in D4); |∩| computes in-row via
  // array_intersect against the broadcast query set; ranking is
  // TakeOrderedAndProject. No full-corpus shuffle anywhere: one semi-join
  // keyed by shingle + one key join back to the cached per-doc sets.
  def moreLikeThis(s: SparkSession, dir: String,
      queryId: Long = 42L, k: Int = 10): DataFrame = {
    import s.implicits._
    val sets = Dedup.docSets(s, dir) // (doc_id, ss, n) — session-cached
    val q = sets.filter($"doc_id" === Param(queryId))
      .select($"ss".as("qs"), $"n".as("qn"))
    val qsh = Dedup.cappedShingles(s, dir).filter($"doc_id" === Param(queryId))
      .select($"s")
    val cand = Dedup.cappedShingles(s, dir)
      .join(broadcast(qsh), "s")
      .filter($"doc_id" =!= Param(queryId))
      .select($"doc_id").distinct()
    cand.join(sets, "doc_id")
      .crossJoin(broadcast(q))
      .withColumn("ni", size(array_intersect($"ss", $"qs")).cast("long"))
      .withColumn("jacc", round($"ni".cast("double") / ($"n" + $"qn" - $"ni"), 6))
      .select($"doc_id", $"ni".as("n_shared"), $"jacc")
      .orderBy($"jacc".desc, $"doc_id")
      .limit(k)
  }

  /** The redacted text itself (not hashed) — spec surface for asserting no
    * PII survives redaction. */
  private[graft] def redactText(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
      regexp_replace(regexp_replace($"text", emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>").as("redacted"))
  }

  // T14 — CCNet-style perplexity bucketing (Wenzek et al. 2020): rank
  // every document within its language by the corpus-LM mean logprob
  // (T11's score) and cut the ranking into head/middle/tail terciles —
  // the classic "keep the head, sample the middle, drop the tail"
  // pretraining quality split. The rank is NOT a window function: a
  // per-language ROW_NUMBER window funnels a whole language stratum
  // through one task (a 50 TB language at 100 TB), so the tercile rank
  // comes from Ranking.rowNumberWithin (range-partition + boundary
  // offsets — no group ever on one task). Bucket membership is pure
  // integer arithmetic on (rank, n): head iff 3·rk ≤ n, middle iff
  // 3·rk ≤ 2n — no division, no percentile interpolation to disagree on.
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = unigramLogprob(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"lang", $"mean_logprob")
    val ranked = Ranking.rowNumberWithin(scored, "lang",
      Seq($"mean_logprob".desc, $"doc_id"), "rk", s"ppl-rank:$dir")
    val n = scored.groupBy($"lang").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(n), "lang")
      .withColumn("ppl_bucket",
        when($"rk" * 3 <= $"n", "head")
          .when($"rk" * 3 <= $"n" * 2, "middle")
          .otherwise("tail"))
      .select($"doc_id", $"lang", $"mean_logprob", $"ppl_bucket")
      .orderBy($"doc_id")
  }

  /** MassiveText stop list (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", §A1.1): a
    * document must contain at least two of these to pass the stop-word
    * rule. Published list, verbatim — on this synthetic corpus only
    * "the" occurs, so r_stop fails corpus-wide; the fixture spec
    * exercises the passing branch. */
  private[graft] val gopherStops =
    Seq("the", "be", "to", "and", "of", "that", "have", "with")

  // T16 — Gopher / MassiveText document-quality gate (Rae et al. 2021
  // §A1.1): the published doc-level filter rules composed into one
  // pass/fail frame with per-rule verdicts, the standard pretraining
  // pre-filter ahead of dedup and LM scoring. Rules (word-level
  // approximations where the paper counts characters):
  //   r_words  — 50 ≤ word count ≤ 100,000
  //   r_wlen   — mean word length in [3, 10]
  //   r_alpha  — ≥ 80% of words contain an alphabetic character
  //   r_stop   — ≥ 2 distinct stop-list words present
  //   r_bigram — most-common-bigram mass ≤ 0.20 (T6's signal; the
  //              paper's top-2-gram character fraction, word-level)
  // Scale shape: everything except r_bigram is IN-ROW array arithmetic
  // (no shuffle); r_bigram rides T6's doc_id-keyed aggregation, which
  // scales out like any high-cardinality groupBy. Rule flags are 0/1
  // BIGINT so the oracle hash never depends on boolean encoding.
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRulesOn(Tables.documents(s, dir))

  /** T16 core over an arbitrary (doc_id, text) frame. */
  private[graft] def gopherRulesOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val stopHits = gopherStops
      .map(t => when(array_contains($"w", t), 1).otherwise(0))
      .reduce(_ + _)
    val base = docs
      .select($"doc_id", split(lower($"text"), " ").as("w"))
      .withColumn("n_words", size($"w").cast("long"))
      .withColumn("mean_wlen", round(
        expr("aggregate(w, 0L, (a, x) -> a + length(x))").cast("double") /
          $"n_words", 6))
      .withColumn("frac_alpha", round(
        size(expr("filter(w, x -> x rlike '[a-z]')")).cast("double") /
          $"n_words", 6))
      .withColumn("n_stop", stopHits.cast("long"))
      .drop("w")
    val rep = repetitionOn(docs).select($"doc_id", $"top_bigram_frac")
    // left join: a doc under 2 words has no bigram frame row — its
    // top-bigram mass is 0 (vacuously passes r_bigram)
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    base.join(rep, Seq("doc_id"), "left")
      .withColumn("top_bigram_frac", coalesce($"top_bigram_frac", lit(0.0)))
      .withColumn("r_words", flag($"n_words" >= 50 && $"n_words" <= 100000))
      .withColumn("r_wlen", flag($"mean_wlen" >= 3.0 && $"mean_wlen" <= 10.0))
      .withColumn("r_alpha", flag($"frac_alpha" >= 0.8))
      .withColumn("r_stop", flag($"n_stop" >= 2))
      .withColumn("r_bigram", flag($"top_bigram_frac" <= 0.2))
      .withColumn("n_failed", lit(5L) - $"r_words" - $"r_wlen" - $"r_alpha" -
        $"r_stop" - $"r_bigram")
      .withColumn("pass", flag($"n_failed" === 0L))
      .select($"doc_id", $"n_words", $"mean_wlen", $"frac_alpha", $"n_stop",
        $"top_bigram_frac", $"r_words", $"r_wlen", $"r_alpha", $"r_stop",
        $"r_bigram", $"n_failed", $"pass")
      .orderBy($"doc_id")
  }

  // T17 — word-distribution entropy (`t_entropy`): Shannon entropy of
  // each document's word histogram plus its normalized form — the
  // gibberish/degenerate-text signal quality filters use alongside T6's
  // repetition fractions (a stuck-loop doc scores near 0, keyboard mash
  // near ln(n_distinct); prose sits in a stable band between).
  // H = -Σ (c/n)·ln(c/n) = -(Σ c·ln(c/n))/n, computed with T11's float
  // discipline: per-(doc, word) terms rounded at 6dp and summed as
  // DECIMAL(18,6) (exact, association-order-free), single IEEE
  // divisions at the end — the hash never depends on aggregation order.
  // Shapes: corpus explode → (doc, word) groupBy with map-side combine,
  // doc-keyed totals join, doc-keyed rollup. No windows, no collects.
  def wordEntropy(s: SparkSession, dir: String): DataFrame =
    wordEntropyOn(Tables.documents(s, dir))

  /** T17 core over an arbitrary (doc_id, text) frame. */
  private[graft] def wordEntropyOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val tf = docs
      .select($"doc_id", explode(split(lower($"text"), " ")).as("wrd"))
      .groupBy($"doc_id", $"wrd").agg(count(lit(1)).as("tf"))
    val n = tf.groupBy($"doc_id").agg(
      sum($"tf").as("n_words"), count(lit(1)).as("n_distinct"))
    val tsum = tf.join(n.select($"doc_id", $"n_words"), "doc_id")
      .withColumn("term", round(
        $"tf" * log($"tf".cast("double") / $"n_words"), 6).cast("decimal(18,6)"))
      .groupBy($"doc_id").agg(sum($"term").as("tsum"))
    n.join(tsum, "doc_id")
      .select($"doc_id", $"n_words", $"n_distinct",
        round(-$"tsum".cast("double") / $"n_words", 6).as("entropy"),
        round(when($"n_distinct" > 1,
          (-$"tsum".cast("double") / $"n_words") /
            log($"n_distinct".cast("double"))).otherwise(0.0), 6)
          .as("norm_entropy"))
      .orderBy($"doc_id")
  }

  // T18 — winnowing fingerprints (`t_winnow`; Schleimer et al. 2003,
  // the MOSS local fingerprinting): hash every k-word gram, slide a
  // w-hash window over the sequence, keep each window's minimum
  // (RIGHTMOST on ties — robust winnowing), emit the distinct selected
  // (pos, hash) per doc. Guarantees: any shared run of ≥ w+k-1 words
  // between two docs shares a fingerprint; expected density 2/(w+1) —
  // the position-aware match primitive between T4's whole-doc
  // fingerprint and D10's every-gram coverage.
  // Entirely IN-ROW (array HOFs; zero shuffle before the final
  // explode): the gram-hash array builds ONCE per doc, the window scan
  // is an O(n·w) in-row transform, selection dedups via array_distinct.
  // Rightmost-min via array_position over the REVERSED window slice
  // (first hit in reverse = last in order).
  // The once-per-doc claim needs care (SURVEY §5 r9b): this operator's
  // explode triggers InferFiltersFromGenerate, and predicate PUSHDOWN
  // substitutes aliases with no cheapness guard — the inferred
  // size(sel) > 0 filter lands at the scan with the FULL wds→hs→sel
  // chain re-materialized inside it, including the split() re-inlined
  // at every lambda reference site: O(words²) re-splitting per doc,
  // measured as one task pegged 10+ min at sf0.1. Two defenses:
  // (1) lambda LET-bindings — transform(array(<e>), v -> ...)[1]
  // evaluates <e> once and the body references the cheap VARIABLE, so
  // even a substituted copy of the chain stays linear; (2)
  // explode_outer instead of explode — no inferred filter at all (sel
  // is never empty after the word-count pre-filter, so the rows are
  // identical and the double evaluation disappears).
  def winnow(s: SparkSession, dir: String, k: Int = 3, w: Int = 4): DataFrame =
    winnowOf(Tables.documents(s, dir), k, w)

  /** T18 core over an arbitrary (doc_id, text) frame. */
  private[graft] def winnowOf(docs: DataFrame, k: Int, w: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val parts = (0 until k).map(o => s"element_at(wv, i + $o)").mkString(", ")
    val hsExpr = // over the let-bound word array `wv`
      s"transform(sequence(1, size(wv) - ${k - 1}), i -> " +
        s"cast(conv(substring(md5(concat_ws(' ', $parts)), 1, 15), 16, 10) as bigint))"
    docs
      .select($"doc_id", split(lower($"text"), " ").as("wds"))
      .filter(size($"wds") >= k + w - 1) // need at least one full window
      .withColumn("sel", expr(
        s"""element_at(transform(array(wds), wv ->
           |  element_at(transform(array($hsExpr), hsv ->
           |    array_distinct(transform(sequence(1, size(hsv) - ${w - 1}), j ->
           |      element_at(transform(array(slice(hsv, j, $w)), sl ->
           |        struct(
           |          cast(j + $w - array_position(reverse(sl), array_min(sl)) as bigint) AS pos,
           |          array_min(sl) AS fp)), 1)))), 1)), 1)""".stripMargin))
      .select($"doc_id", explode_outer($"sel").as("e"))
      .select($"doc_id", $"e.pos".as("pos"), $"e.fp".as("fp"))
      .orderBy($"doc_id", $"pos")
  }

  // T18b — winnowing pair-overlap detector (`t_winnow_pairs`; the MOSS
  // match step over T18's fingerprints — Schleimer et al. 2003 §4: two
  // documents sharing any run of ≥ w+k-1 words share a selected
  // fingerprint, so joining the fingerprint postings cross-document
  // finds every such overlap). Per qualifying pair: the number of
  // DISTINCT shared fingerprints and the position extent of the shared
  // material in each document (the span MOSS highlights).
  // Scale shape (the D4 inverted-index discipline, Dedup.scala
  // ngramJaccard): postings are one row per (fp, doc) — expected
  // 2/(w+1) × words total; the df-cap drops boilerplate fingerprints
  // shared by > dfCap docs BEFORE the self-join, bounding the per-fp
  // pair fanout at C(dfCap, 2) — the join output is linear in postings,
  // never all-pairs. minShared ≥ 2 keeps single-fingerprint
  // coincidences (one hash landing in two unrelated docs) out of the
  // pair list.
  def winnowPairs(s: SparkSession, dir: String, k: Int = 3, w: Int = 4,
      dfCap: Int = 10, minShared: Int = 2): DataFrame =
    winnowPairsOf(Tables.documents(s, dir), k, w, dfCap, minShared)

  /** Winnow POSTINGS with the df-cap applied: one row per (fp, doc)
    * carrying the doc-local position extent of that fingerprint (a fp
    * can be selected at several positions), with fingerprints shared by
    * more than dfCap docs dropped as boilerplate BEFORE any join — the
    * bound that keeps every consumer's per-fp pair fanout at
    * C(dfCap, 2) and its join output linear in postings. */
  private[graft] def winnowPostings(docs: DataFrame, k: Int, w: Int,
      dfCap: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val post = winnowOf(docs, k, w).groupBy($"fp", $"doc_id")
      .agg(min($"pos").as("lo"), max($"pos").as("hi"))
    post.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .filter($"df" <= dfCap).drop("df")
  }

  /** T18b core over an arbitrary (doc_id, text) frame. */
  private[graft] def winnowPairsOf(docs: DataFrame, k: Int, w: Int,
      dfCap: Int, minShared: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val keep = winnowPostings(docs, k, w, dfCap)
    keep.as("a")
      .join(keep.as("b"), $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min($"a.lo").as("a_lo"), max($"a.hi").as("a_hi"),
        min($"b.lo").as("b_lo"), max($"b.hi").as("b_hi"))
      .filter($"n_shared" >= minShared)
      .orderBy($"doc_a", $"doc_b")
  }

  // D6d — span-level benchmark decontamination forensics
  // (`d_decontaminate_spans`): the cross-corpus consumer of T18's
  // fingerprints. D6/D6c answer "WHICH train docs share n-grams with the
  // benchmark" at document granularity; this answers WHERE — for every
  // (train doc, bench doc) pair sharing a verbatim run of ≥ w+k-1 words
  // (the winnowing guarantee: any such run shares a selected
  // fingerprint), the distinct-fingerprint count and the position extent
  // of the shared material in BOTH documents — the span a scrubbing
  // rewrite or a manual audit actually needs. Benchmark set = the
  // repo-wide doc_id % 10 == 0 slice (the D6 convention).
  // Scale shape: identical to T18b — df-capped postings (the cap counts
  // BOTH sides, so corpus-wide boilerplate is dropped exactly as MOSS
  // drops it), one fp-equi-join restricted to cross-side pairs, output
  // linear in postings. The join is train-postings × bench-postings per
  // fp — at a bounded benchmark the bench side is the small build side.
  def decontaminateSpans(s: SparkSession, dir: String, k: Int = 3,
      w: Int = 4, dfCap: Int = 10, minShared: Int = 2): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    decontaminateSpansOn(docs.filter($"doc_id" % 10 =!= 0),
      docs.filter($"doc_id" % 10 === 0), k, w, dfCap, minShared)
  }

  /** D6d core over arbitrary (doc_id, text) train/bench frames. The
    * df-cap is computed over the UNION's postings so a fingerprint's
    * boilerplate verdict is a property of the whole corpus, not of one
    * side (and matches winnowPairsOf's cap on the same data). */
  private[graft] def decontaminateSpansOn(train: DataFrame, bench: DataFrame,
      k: Int, w: Int, dfCap: Int, minShared: Int): DataFrame = {
    import train.sparkSession.implicits._
    val keep = winnowPostings(
      train.select($"doc_id", $"text")
        .unionAll(bench.select($"doc_id", $"text")), k, w, dfCap)
    val benchIds = bench.select($"doc_id".as("bid"))
    val t = keep.join(benchIds, $"doc_id" === $"bid", "left_anti")
    val b = keep.join(benchIds, $"doc_id" === $"bid", "left_semi")
    t.as("t").join(b.as("b"), $"t.fp" === $"b.fp")
      .groupBy($"t.doc_id".as("train_doc"), $"b.doc_id".as("bench_doc"))
      .agg(count(lit(1)).as("n_shared"),
        min($"t.lo").as("train_lo"), max($"t.hi").as("train_hi"),
        min($"b.lo").as("bench_lo"), max($"b.hi").as("bench_hi"))
      .filter($"n_shared" >= minShared)
      .orderBy($"train_doc", $"bench_doc")
  }

  // D6e — span-level benchmark decontamination REWRITE
  // (`d_decontaminate_rewrite`): the corpus-EDITING step the D6 family
  // builds toward (VERDICT r13 #1). D6/D6c flag WHICH train docs share
  // material with the benchmark, D6d localizes WHERE; this operator
  // excises it — every train word within the padded cover of a
  // bench-shared selected fingerprint is dropped, everything else —
  // including every wholly-clean document — stays byte-identical (clean
  // docs are passed through via the original `text` column, never
  // re-assembled, so even pathological whitespace survives). The
  // pretraining pipeline runs the pair in sequence: audit (D6d) →
  // scrub (this) instead of D6's drop-the-whole-doc.
  //
  // Padding: a selected fingerprint at gram-start `pos` covers words
  // [pos, pos+k-1]; winnowing guarantees a shared run of ≥ w+k-1 words
  // selects a shared fingerprint at some window-min position INSIDE it,
  // which can sit up to w-1 grams from either end of the run — so the
  // excision widens the cover by w-1 words each side:
  // [pos-(w-1), pos+k+w-2]. For every window fully inside a shared run
  // the hash sequence is identical in both docs, so the selected
  // position is shared too; matched fingerprints therefore tile any
  // long run at ≤ w-gram gaps and the padded covers overlap into full
  // excision of the run (boundary margins < w+k-1 words are covered by
  // the edge fingerprints' padding). Boilerplate discipline = D6d's:
  // the df-cap over the UNION's postings drops fingerprints shared by
  // > dfCap docs before any match (MOSS semantics — corpus-wide chrome
  // is the line-dedup family's job, not decontamination's).
  //
  // Scale shape: the winnow chain is in-row; then ONE distinct+groupBy
  // for the df-cap, two semi-joins to select matched train positions,
  // and the word-level regroup touches ONLY contaminated docs (the
  // semi-join before posexplode) — clean docs never explode, so the
  // rewrite cost is linear in contaminated words, not corpus words.
  // Everything is deterministic (md5 fingerprints, integer positions)
  // ⇒ hash-matched against the full DuckDB replay.
  def decontaminateRewrite(s: SparkSession, dir: String, k: Int = 3,
      w: Int = 4, dfCap: Int = 10): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    decontaminateRewriteOn(docs.filter($"doc_id" % 10 =!= 0),
      docs.filter($"doc_id" % 10 === 0), k, w, dfCap)
  }

  /** D6e core over arbitrary (doc_id, text) train/bench frames. The
    * df-cap is computed over the union (the D6d convention, so the
    * audit and the rewrite agree on every fingerprint's verdict). */
  private[graft] def decontaminateRewriteOn(train: DataFrame, bench: DataFrame,
      k: Int, w: Int, dfCap: Int): DataFrame = {
    import train.sparkSession.implicits._
    // per-position selections over the union: selection is doc-local,
    // the union only feeds the df-cap's corpus-wide boilerplate verdict
    val sel = winnowOf(train.select($"doc_id", $"text")
      .unionAll(bench.select($"doc_id", $"text")), k, w)
    val benchIds = bench.select($"doc_id".as("bid"))
    val capped = sel.select($"fp", $"doc_id").distinct()
      .groupBy($"fp").agg(count(lit(1)).as("df"))
      .filter($"df" <= dfCap).select($"fp")
    val benchFps = sel.join(benchIds, $"doc_id" === $"bid", "left_semi")
      .select($"fp").distinct()
      .join(capped, Seq("fp"), "left_semi")
    val matched = sel.join(benchIds, $"doc_id" === $"bid", "left_anti")
      .join(benchFps, Seq("fp"), "left_semi")
      .select($"doc_id", $"pos")
    val mcnt = matched.groupBy($"doc_id").agg(count(lit(1)).as("nm"))
    // padded word-index cover of each matched fingerprint, unioned
    val removed = matched.select($"doc_id",
        explode(sequence(greatest($"pos" - (w - 1), lit(1L)),
          $"pos" + (k + w - 2))).as("i"))
      .distinct()
    // ONLY contaminated docs explode to words; original case (positions
    // align with the lowercased winnow split — lower() preserves spaces)
    val words = train.select($"doc_id", $"text")
      .join(mcnt.select($"doc_id"), Seq("doc_id"), "left_semi")
      .select($"doc_id", posexplode(split($"text", " ")))
      .toDF("doc_id", "p0", "wrd")
      .select($"doc_id", ($"p0" + 1).cast("long").as("i"), $"wrd")
    val rebuilt = words
      .join(removed.withColumn("rm", lit(1)), Seq("doc_id", "i"), "left")
      .groupBy($"doc_id")
      .agg(sum(when($"rm".isNotNull, 1L).otherwise(0L)).as("nr"),
        // the d_line_dedup reassembly: position-sorted collect_list with
        // removed words NULLed out (collect_list drops them for free);
        // an all-contaminated doc rebuilds to ''
        array_join(expr("transform(array_sort(collect_list(" +
          "CASE WHEN rm IS NULL THEN struct(i, wrd) END)), x -> x.wrd)"),
          " ").as("ct"))
    train.select($"doc_id", $"text")
      .join(rebuilt, Seq("doc_id"), "left")
      .join(mcnt, Seq("doc_id"), "left")
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_words"),
        coalesce($"nm", lit(0L)).as("n_matched"),
        coalesce($"nr", lit(0L)).as("n_removed"),
        coalesce($"ct", $"text").as("clean_text"))
      .orderBy($"doc_id")
  }

  // T19 — interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995;
  // Chen & Goodman 1999's benchmark winner — the smoothing KenLM ships,
  // i.e. the model the CCNet perplexity filter actually runs). T11b's
  // raw MLE gives unseen-in-context bigrams −∞ and overfits rare
  // prefixes; KN discounts every observed bigram by a fixed D and
  // redistributes the held-out mass over the CONTINUATION unigram
  // (how many distinct contexts a word follows — "francisco" is
  // frequent but follows only "san", so its continuation mass is tiny):
  //   P(w2|w1) = (c(w1,w2) − D)/c(w1·)
  //            + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
  // with D = 0.75 (the Chen-Goodman default; c ≥ 1 on observed bigrams
  // keeps the discounted term positive, so no max(…,0) is needed).
  // Scoring mirrors T11b: mean over the doc's bigram occurrences of
  // 6dp-rounded log10 P, DECIMAL-summed, one un-rounded IEEE division.
  //
  // Shapes: the SAME one (doc, bigram) aggregation as T11b feeds the
  // per-doc terms; the corpus stats are three map-side-combined
  // aggregates of it (bigram counts; prefix totals + distinct-successor
  // counts in ONE groupBy(w1) since both are rows of the bigram-count
  // frame; distinct-predecessor counts by w2) plus one scalar
  // (N1+(··) = #distinct bigrams ≡ Σ N1+(w1·), taken as a 1-row
  // broadcast of the prefix frame — no extra corpus scan). Every join
  // rides a high-cardinality key; nothing is driver-side.
  def knLogprob(s: SparkSession, dir: String, d: Double = 0.75): DataFrame =
    knLogprobOn(Tables.documents(s, dir), d)

  /** T19's per-doc bigram term-frequency frame (doc_id, w1, w2, tf). */
  private[graft] def knDocTf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", wordsCol.as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(w) - 1), " +
        "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))")).as("e"))
      .select($"doc_id", $"e.w1", $"e.w2")
      .groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("tf"))
  }

  /** T19's corpus statistics — (cf, pre, suf, tot): bigram counts,
    * prefix totals + distinct-successor counts, distinct-predecessor
    * counts, and the 1-row N1+(··). Shared with the streaming serving
    * leg (PerplexityStream) so the shipped model is built from the SAME
    * frames the distributed scorer reads. The bigram-TYPE frame is
    * Zipf-small next to the corpus and feeds FOUR consumers (the
    * per-doc join, prefix stats, continuation stats, N1+(··)) — persist
    * it so the model is built from one corpus-scale aggregation, not
    * re-derived per consumer. */
  private[graft] def knStats(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    val cf = graft.Caches.cached(
        s"kn-bigrams:${docs.queryExecution.analyzed.semanticHash()}") {
      knDocTf(docs).groupBy($"w1", $"w2").agg(sum($"tf").as("cf"))
    }
    val pre = cf.groupBy($"w1")
      .agg(sum($"cf").as("c1"), count(lit(1)).as("n1w1"))
    val suf = cf.groupBy($"w2").agg(count(lit(1)).as("n1w2"))
    val tot = pre.agg(sum($"n1w1").cast("double").as("n1all"))
    (cf, pre, suf, tot)
  }

  /** The ONE interpolated-KN probability expression, over a row joined
    * from cf⋈pre⋈suf⋈tot — shared verbatim by the distributed scorer,
    * the oracle (re-spelled in SQL), and the serving model build, so
    * every consumer sees bit-identical doubles. */
  private[graft] def knP(d: Double): Column =
    (col("cf").cast("double") - lit(d)) / col("c1").cast("double") +
      lit(d) * col("n1w1").cast("double") / col("c1").cast("double") *
      (col("n1w2").cast("double") / col("n1all"))

  private[graft] def knLogprobOn(docs: DataFrame, d: Double): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tf = knDocTf(docs)
    val (cf, pre, suf, tot) = knStats(docs)
    tf.join(cf, Seq("w1", "w2")).join(pre, "w1").join(suf, "w2")
      .crossJoin(broadcast(tot))
      .withColumn("p", knP(d))
      .withColumn("term",
        round($"tf" * round(log10($"p"), 6), 6).cast("decimal(18,6)"))
      .groupBy($"doc_id")
      .agg(
        (sum($"term").cast("double") / sum($"tf")).as("mean_logprob"),
        sum($"tf").as("n_bigrams"))
      .orderBy($"doc_id")
  }

  // T19c — interpolated TRIGRAM Kneser-Ney (r16, VERDICT r15 #5): one
  // more backoff level on T19's machinery — the step from "minimal"
  // toward CCNet's 5-gram KenLM gate. Recursive interpolated KN
  // (Chen & Goodman 1999, eq. 18), three levels:
  //   P(w3|w1w2) = (c(w1w2w3) − D)/c(w1w2·)
  //              + D·N1+(w1w2·)/c(w1w2·) · P_kn(w3|w2)
  //   P_kn(w3|w2) = (N1+(·w2w3) − D)/N1+(·w2·)
  //              + D·N1+(w2·*)/N1+(·w2·) · P_cont(w3)
  //   P_cont(w3) = N1+(·w3)/N1+(··)            (T19's unigram floor)
  // where the MIDDLE level runs on continuation counts (the KN insight
  // applied recursively: how many distinct left-contexts a bigram
  // continues), N1+(w2·*) = distinct trigram successors of w2, and the
  // bottom level reuses T19's bigram continuation stats verbatim
  // (knStats.suf/tot — the same cached frame, so the two scorers share
  // one bigram aggregation per session). Every count is an exact BIGINT
  // from a GROUP BY chain over the Zipf-small trigram-type frame; all
  // discounted numerators stay positive on observed trigrams (c ≥ 1,
  // N1+ ≥ 1), so the single shared expression needs no max(…, 0).
  //
  // Shapes: ONE corpus-scale trigram explode+aggregation (persisted —
  // the knStats discipline) feeds the per-doc join and all three stats
  // levels as successive map-side-combined GROUP BYs of strictly
  // smaller frames. Scoring is the T19 fold: 6dp log10 per type,
  // tf-weighted DECIMAL sum, one IEEE division by the trigram count.
  def kn3Logprob(s: SparkSession, dir: String, d: Double = 0.75): DataFrame =
    kn3LogprobOn(Tables.documents(s, dir), d)

  /** T19c's per-doc trigram term-frequency frame (doc_id, w1, w2, w3, tf). */
  private[graft] def kn3DocTf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", wordsCol.as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(w) - 2), " +
        "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2, " +
        "element_at(w, i + 2) AS w3))")).as("e"))
      .select($"doc_id", $"e.w1", $"e.w2", $"e.w3")
      .groupBy($"doc_id", $"w1", $"w2", $"w3").agg(count(lit(1)).as("tf"))
  }

  /** T19c's corpus statistics — (cf3, ctx, cc, mid): trigram counts;
    * context totals c(w1w2·) + distinct-successor counts N1+(w1w2·);
    * continuation bigram counts N1+(·w2w3); middle-level totals
    * N1+(·w2·) + distinct successors N1+(w2·*). The unigram floor comes
    * from [[knStats]] (shared cache). Shared with the streaming serving
    * leg (PerplexityStream.trainTrigram) — the shipped model evaluates
    * the same expressions. */
  private[graft] def kn3Stats(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    val cf3 = graft.Caches.cached(
        s"kn3-trigrams:${docs.queryExecution.analyzed.semanticHash()}") {
      kn3DocTf(docs).groupBy($"w1", $"w2", $"w3").agg(sum($"tf").as("c3"))
    }
    val ctx = cf3.groupBy($"w1", $"w2")
      .agg(sum($"c3").as("c12"), count(lit(1)).as("n12"))
    val cc = cf3.groupBy($"w2", $"w3").agg(count(lit(1)).as("cc23"))
    val mid = cc.groupBy($"w2")
      .agg(sum($"cc23").as("ccmid"), count(lit(1)).as("nsucc2"))
    (cf3, ctx, cc, mid)
  }

  /** The ONE interpolated trigram-KN probability expression, over a row
    * joined from cf3⋈ctx⋈cc⋈mid⋈suf(w3)⋈tot — shared verbatim by the
    * distributed scorer, the oracle, and the serving model build. */
  private[graft] def kn3P(d: Double): Column =
    (col("c3").cast("double") - lit(d)) / col("c12").cast("double") +
      lit(d) * col("n12").cast("double") / col("c12").cast("double") * (
        (col("cc23").cast("double") - lit(d)) / col("ccmid").cast("double") +
          lit(d) * col("nsucc2").cast("double") / col("ccmid").cast("double") *
          (col("n1w3").cast("double") / col("n1all")))

  private[graft] def kn3LogprobOn(docs: DataFrame, d: Double): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tf3 = kn3DocTf(docs)
    val (cf3, ctx, cc, mid) = kn3Stats(docs)
    val (_, _, suf, tot) = knStats(docs)
    tf3.join(cf3, Seq("w1", "w2", "w3"))
      .join(ctx, Seq("w1", "w2"))
      .join(cc, Seq("w2", "w3"))
      .join(mid, Seq("w2"))
      .join(suf.select($"w2".as("w3"), $"n1w2".as("n1w3")), "w3")
      .crossJoin(broadcast(tot))
      .withColumn("p", kn3P(d))
      .withColumn("term",
        round($"tf" * round(log10($"p"), 6), 6).cast("decimal(18,6)"))
      .groupBy($"doc_id")
      .agg(
        (sum($"term").cast("double") / sum($"tf")).as("mean_logprob"),
        sum($"tf").as("n_trigrams"))
      .orderBy($"doc_id")
  }

  // T20 — trained quality classifier (multinomial Naive Bayes over
  // word counts with add-one smoothing — the distributed twin of the
  // fastText-style "looks like a curated source" filter GPT-3/PaLM
  // pipelines run over CommonCrawl: train on curated-vs-rest labels,
  // keep what scores curated). The curated class is a source allowlist
  // (parameter); everything else is the negative class.
  //   logodds(w) = log10((c_pos(w)+1)/(T_pos+V)) − log10((c_neg(w)+1)/(T_neg+V))
  //   score(doc) = prior + Σ_w tf(w)·logodds(w),  prior = log10(N_pos/N_neg)
  // where c_cls(w) are class token counts, T_cls their totals, V the
  // corpus vocabulary, N_cls class doc counts. pred_quality = score > 0.
  //
  // Shapes: the corpus is exploded and aggregated ONCE — the persisted
  // per-doc tf frame (nbStats) feeds both the training aggregate and the
  // scoring join (r15, ADVICE r14 #1). Training collapses it to a
  // vocab-sized (word) frame carrying both class counts as conditional
  // sums — no per-class scan or join-of-classes; V, T_pos, T_neg, the
  // priors are one 1-row broadcast off it. Scoring joins the SAME tf
  // frame to the word stats on the word key (high-cardinality,
  // map-side-combined) and collapses per doc. Nothing is driver-side;
  // the "model" never materializes outside the word-stats frame, so a
  // 100 TB corpus pays one explode and three keyed shuffles total
  // (tf build, vocab aggregate, scoring join) however large it is.
  // Float discipline: counts stay BIGINT; logodds rounds at 6dp,
  // tf·logodds re-rounds and DECIMAL-sums; the prior (one double) joins
  // the sum in a final 6dp round.
  def qualityClassifier(s: SparkSession, dir: String,
      posSources: Seq[String] = Seq("src0", "src1", "src2")): DataFrame =
    qualityClassifierOn(Tables.documents(s, dir), posSources)

  /** T20's training frames, shared with the scoring join AND the
    * streaming serving leg: the per-doc term-frequency frame (doc_id,
    * pos, wrd, tf) — persisted, the ONE corpus-scale explode+aggregation
    * in the whole train-and-score path (r15, ADVICE r14 #1: the old
    * split re-derived an identical tf inside qualityClassifierOn, paying
    * the corpus explode twice) — the vocab-sized word stats (wrd, cpos,
    * cneg) aggregated FROM it, and the 1-row class doc counts
    * (npos, nneg). */
  private[graft] def nbStats(docsDf: DataFrame,
      posSources: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    val s = docsDf.sparkSession
    import s.implicits._
    val key = s"${posSources.mkString(",")}:" +
      s"${docsDf.queryExecution.analyzed.semanticHash()}"
    val tf = graft.Caches.cached(s"nb-tf:$key") {
      docsDf
        .select($"doc_id", $"source".isin(posSources: _*).as("pos"),
          explode(wordsCol).as("wrd"))
        .groupBy($"doc_id", $"pos", $"wrd")
        .agg(count(lit(1)).as("tf"))
    }
    // the vocab-sized model frame feeds both the totals and the logodds
    // scoring join — persist so training reads the shared tf once
    val wf = graft.Caches.cached(s"nb-model:$key") {
      tf.groupBy($"wrd").agg(
        sum(when($"pos", $"tf").otherwise(0L)).as("cpos"),
        sum(when(!$"pos", $"tf").otherwise(0L)).as("cneg"))
    }
    val docs = docsDf
      .agg(sum(when($"source".isin(posSources: _*), 1L).otherwise(0L))
          .as("npos"),
        sum(when($"source".isin(posSources: _*), 0L).otherwise(1L))
          .as("nneg"))
    (tf, wf, docs)
  }

  private[graft] def qualityClassifierOn(docsDf: DataFrame,
      posSources: Seq[String]): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val (tf, wf, docs) = nbStats(docsDf, posSources)
    val stats = wf.agg(sum($"cpos").as("tpos"), sum($"cneg").as("tneg"),
        count(lit(1)).as("v"))
      .crossJoin(docs)
      .select($"tpos", $"tneg", $"v",
        log10($"npos".cast("double") / $"nneg".cast("double")).as("prior"))
    val lo = wf.crossJoin(broadcast(stats))
      .select($"wrd", $"prior",
        round(
          log10(($"cpos" + 1L).cast("double") / ($"tpos" + $"v").cast("double")) -
            log10(($"cneg" + 1L).cast("double") / ($"tneg" + $"v").cast("double")),
          6).as("logodds"))
    tf.join(lo, "wrd")
      .withColumn("term", round($"tf" * $"logodds", 6).cast("decimal(18,6)"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_tokens"),
        round(first($"prior") + sum($"term").cast("double"), 6).as("score"))
      .select($"doc_id", $"n_tokens", $"score", ($"score" > 0).as("pred_quality"))
      .orderBy($"doc_id")
  }
}
