package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.GraftCheckpoint
import org.apache.spark.sql.functions._
import graft.Tables

/** BPE merge-table training (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") — the tokenizer-training
  * stage of an LLM data pipeline, distributed. The key structural fact BPE
  * training exploits: merges are learned on the WORD-FREQUENCY TABLE, not
  * the corpus — so the single corpus-sized pass is the initial word count,
  * and every merge round runs over the (much smaller) vocab frame. That is
  * exactly the shape that survives 100 TB: corpus → one groupBy(word)
  * aggregation; then nMerges rounds of [exploded-pair count → argmax →
  * apply merge], each linear in Σ|word| over DISTINCT words.
  *
  * Deterministic: the argmax tie-breaks on (count desc, left, right), so
  * the merge table is a pure function of the corpus. Iterative sequence
  * rewriting has no scalar SQL replay (the vocab state is a list per word)
  * ⇒ rows-only entry, with the spec carrying a single-JVM reference fold
  * (identical algorithm, Scala collections) plus the classic
  * low/lower/newest/widest fixture where the expected merges are known.
  */
object Bpe {

  /** One merge application: leftmost-first, non-overlapping (the standard
    * greedy pass — after "aa"+"a"→"aaa" on "aaaa" the tail "a" survives). */
  private[graft] def mergeOnce(syms: List[String], a: String, b: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  /** Single-JVM reference fold for the spec: the same algorithm on plain
    * collections (word → count). */
  private[graft] def referenceMerges(vocab: Map[String, Long], nMerges: Int): Seq[(Int, String, String, Long)] = {
    var v = vocab.map { case (w, c) => (w.map(_.toString).toList :+ "</w>", c) }.toList
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      v.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + c)
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((r, a, b, c))
        v = v.map { case (syms, cnt) => (mergeOnce(syms, a, b), cnt) }
        r += 1
      }
    }
    out.toSeq
  }

  // T15 — learn the first `nMerges` BPE merges over the corpus vocabulary.
  def bpeMerges(s: SparkSession, dir: String, nMerges: Int = 10): DataFrame = {
    import s.implicits._
    bpeMergesOf(Tables.documents(s, dir).select($"text"), nMerges)
  }

  /** T15 core over any (text) frame (fixture-testable).
    *
    * Loop shape per round: one exploded-pair groupBy over the vocab frame
    * (map-side combined), a 1-row TakeOrdered argmax (bounded driver
    * state — the merge decision IS driver state in every BPE trainer),
    * and a typed map applying the merge. localCheckpoint truncates the
    * per-round lineage like the PageRank loop. Symbols start as
    * characters plus the standard end-of-word marker so learned units
    * can't leak across word boundaries. */
  private[graft] def bpeMergesOf(texts: DataFrame,
      nMerges: Int): DataFrame = GraftCheckpoint.scoped { scope =>
    val s = texts.sparkSession
    import s.implicits._
    val state = scope.rounds()
    var vocab: Dataset[(List[String], Long)] = state.checkpoint(texts
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) => (w.map(_.toString).toList :+ "</w>", c) })
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val best = vocab.flatMap { case (syms, c) =>
        syms.zip(syms.tail).map { case (a, b) => (a, b, c) }
      }.toDF("l", "r", "c")
        .groupBy($"l", $"r").agg(sum($"c").as("cnt"))
        .orderBy($"cnt".desc, $"l", $"r")
        .limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, a + b, c))
        vocab = state.checkpoint(
          vocab.map { case (syms, cnt) => (mergeOnce(syms, a, b), cnt) })
        r += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy($"rank")
  }

  /** Encode one word with a trained merge list, applied in rank order —
    * the standard BPE inference pass. */
  private[graft] def encodeWord(w: String, merges: Seq[(String, String)]): List[String] = {
    var syms = w.map(_.toString).toList :+ "</w>"
    merges.foreach { case (a, b) => syms = mergeOnce(syms, a, b) }
    syms
  }

  // T15b — apply the trained merge table: per-document BPE token counts
  // (the tokenizer-INFERENCE stage — T15 trains, this prices the corpus
  // in tokens of the learned vocabulary; token budgeting, packing, and
  // per-token billing all start here).
  def bpeEncode(s: SparkSession, dir: String, nMerges: Int = 10): DataFrame = {
    import s.implicits._
    bpeEncodeOf(Tables.documents(s, dir).select($"doc_id", $"text"), nMerges,
      cacheKey = s"bpe-tf:$dir")
  }

  /** T15b core. The same structural fact as training: encoding is a pure
    * function of the WORD, so the merge fold runs once per DISTINCT word
    * (the vocab frame — linear in Σ|word| over distinct words, not over
    * the corpus) and per-doc counts come back via one keyed join of the
    * doc term-frequency frame against the encoded vocab. The merge table
    * itself is bounded driver state (nMerges rows — the same argument as
    * k-means centroids), broadcast to the encode map. Inherits T15's
    * rows-only status (the merge table has no scalar SQL replay); the
    * spec pins a reference fold, the zero-merge identity, and merge
    * monotonicity. */
  private[graft] def bpeEncodeOf(docs: DataFrame, nMerges: Int,
      cacheKey: String = ""): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // default cache key binds to the input frame's identity — see
    // tokenizeDocs (a fixed default would cross-serve corpora)
    val key = if (cacheKey.nonEmpty) cacheKey
      else s"bpe-tf:${docs.queryExecution.analyzed.semanticHash()}"
    val mergeRows = bpeMergesOf(docs.select($"text"), nMerges).collect()
    val merges = mergeRows.map(r => (r.getString(1), r.getString(2))).toSeq
    val bm = s.sparkContext.broadcast(merges)
    // both consumers (vocab distinct, per-doc join) share one tf build
    val tf = graft.Caches.cached(key) {
      docs
        .select($"doc_id", explode(split(lower($"text"), " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    }
    val vocabTokens = tf.select($"w").distinct().as[String]
      .map(w => (w, encodeWord(w, bm.value).length.toLong))
      .toDF("w", "n_sub")
    tf.join(vocabTokens, "w")
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_words"), sum($"tf" * $"n_sub").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** Full per-document token SEQUENCES under the trained merge table —
    * the materialization step T15b's counts summarize (r15, the
    * p_tokenize_shards composition needs the actual tokens). Same
    * structural discipline as bpeEncodeOf: the merge fold runs once per
    * DISTINCT word; documents reassemble by one keyed join + a
    * position-sorted in-row flatten (collect_list of (pos, subwords)
    * then array_sort + transform — all codegen'd built-ins, no
    * cross-row state). Returns (doc_id, n_tokens, tokens). */
  private[graft] def tokenizeDocs(docs: DataFrame, nMerges: Int,
      cacheKey: String = ""): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // default cache key binds to the INPUT FRAME's identity (the
    // knStats/nbStats discipline) — a fixed default key would silently
    // serve corpus A's cached words frame to corpus B in one session
    val key = if (cacheKey.nonEmpty) cacheKey
      else s"bpe-tok:${docs.queryExecution.analyzed.semanticHash()}"
    val mergeRows = bpeMergesOf(docs.select($"text"), nMerges).collect()
    val merges = mergeRows.map(r => (r.getString(1), r.getString(2))).toSeq
    val bm = s.sparkContext.broadcast(merges)
    val words = graft.Caches.cached(key) {
      docs
        .select($"doc_id", posexplode(split(lower($"text"), " ")))
        .toDF("doc_id", "p", "w")
        .filter(length($"w") > 0)
    }
    val vocabTokens = words.select($"w").distinct().as[String]
      .map(w => (w, encodeWord(w, bm.value).toArray))
      .toDF("w", "subs")
    words.join(vocabTokens, "w")
      .groupBy($"doc_id")
      .agg(flatten(expr(
        "transform(array_sort(collect_list(struct(p, subs))), x -> x.subs)"))
        .as("tokens"))
      .select($"doc_id", size($"tokens").cast("long").as("n_tokens"), $"tokens")
  }
}
