package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.GraftCheckpoint
import org.apache.spark.sql.functions._
import graft.{Caches, Tables}
import graft.operators.TextOps.h64
import graft.functions.GraftFunctions.{bloomProbe, vecDot}

/** Deduplication operators for LLM-pipeline data prep, over `documents`
  * (reference analogue: the retrieval dedup in db_service.get_formatted_chunks
  * plus the dedup stages any 100 TB corpus pipeline needs).
  *
  * Scale design: no operator ever does a blind cross join. Candidates come
  * from an inverted index (shared shingle) or LSH band buckets — both
  * shuffle on a high-cardinality key and are AQE-skew-tolerant. The
  * inverted-index variants cap fanout with a document-frequency stop list
  * at real scale (see SURVEY §5); MinHash-LSH (D2) is the path that stays
  * near-linear at 100 TB.
  *
  * All hashing derives from md5 (TextOps.h64) so the DuckDB oracle computes
  * the identical buckets and fingerprints.
  */
object Dedup {

  private def wordsOf(c: Column): Column = split(lower(c), " ")

  /** doc_id + word-n-gram shingles, one row per (doc, shingle) after
    * dedup. `dedup = false` skips the distinct SHUFFLE for consumers
    * whose aggregates are duplicate-insensitive (min / countDistinct) —
    * set semantics must hold where rows are counted (Jaccard sizes). */
  private def shingles(s: SparkSession, dir: String, n: Int,
      dedup: Boolean = true): DataFrame =
    shinglesOf(Tables.documents(s, dir), n, dedup)

  /** Same, over an arbitrary (doc_id, text) frame (fixture specs).
    * The bare `w` references inside the gram lambda are SAFE here —
    * CollapseProject refuses to inline a non-cheap multi-referenced
    * alias, so the optimized plan keeps `w` materialized in the Project
    * below the Generate (verified r9b; contrast T18's winnow, where the
    * Generate-inferred size()>0 filter DID re-materialize the chain —
    * SURVEY §5 r9b). */
  private[graft] def shinglesOf(docs: DataFrame, n: Int,
      dedup: Boolean = true): DataFrame = {
    import docs.sparkSession.implicits._
    val parts = (0 until n).map(k => s"element_at(w, i + $k)").mkString(", ")
    val raw = docs
      .select($"doc_id", wordsOf($"text").as("w"))
      .filter(size($"w") >= n) // sequence(1, size-k) descends when size < k
      .select($"doc_id", explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), i -> concat_ws(' ', $parts))")).as("s"))
    if (dedup) raw.distinct() else raw
  }

  // D1 — exact dedup: content-hash groups, keep the smallest doc_id.
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  // D2 — MinHash + LSH near-dup: word-3-gram shingles → 16 minhash perms →
  // 4 bands of 4 → pairs sharing ≥1 band bucket. Output: candidate pair +
  // how many of the 4 bands collided. All 16 permutation minima aggregate
  // in ONE groupBy over the shingle rows (16 min() columns) — no ×16 row
  // explosion ahead of the shuffle; map-side combine reduces each
  // partition to one row per doc.
  // r6: collapse-first like D4b/D5 — clones share every band, so a
  // duplicate group of size g inflates the band self-join by g²; the
  // signatures run on representatives, clone pairs expand with
  // n_bands = all 4 (identical minima collide everywhere), cross pairs
  // inherit the rep pair's count (identical signatures ⇒ identical
  // collisions). Oracle (quadratic DuckDB definition) unchanged.
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    if (!hasExactClones(docs.select($"doc_id", $"text"), s"clonechk:$dir")) {
      val (_, bands) = minhashBandsOf(docs, "", dir)
      minhashBandPairs(bands).orderBy($"doc_a", $"doc_b")
    } else {
      val (groups, repPairs, selfPairs) = minhashRepGraph(s, dir)
      expandPairs(groups, repPairs, selfPairs)
        .select($"doc_a", $"doc_b", $"sim".as("n_bands"))
        .orderBy($"doc_a", $"doc_b")
    }
  }

  // dedup = false: min() is idempotent over duplicate shingles, so the
  // distinct shuffle would only burn a pass (the oracle's DISTINCT sh
  // yields the same minima)
  private def minhashBandsOf(input: DataFrame, tag: String,
      dir: String): (DataFrame, DataFrame) = {
    import input.sparkSession.implicits._
    val M = 1000000007L
    val h = shinglesOf(input, 3, dedup = false)
      .select($"doc_id", (h64($"s") % M).as("hv"))
    def perm(j: Int): Column =
      min((lit(2L * j + 1) * $"hv" + lit(17L * j + 3)) % M).as(s"m$j")
    val mh = Caches.cached(s"minhash-sigs$tag:$dir") {
      h.groupBy($"doc_id").agg(perm(0), (1 until 16).map(perm): _*)
    }
    // cached: the self-join reads it twice and Catalyst would otherwise
    // recompute the whole shingle->minhash->band pipeline per side
    val bands = Caches.cached(s"minhash-bands$tag:$dir") {
      val bandStructs = array((0 until 4).map { b =>
        struct(lit(b.toLong).as("band"),
          concat_ws(",", (0 until 4).map(k => col(s"m${4 * b + k}").cast("string")): _*).as("sig"))
      }: _*)
      mh.select($"doc_id", explode(bandStructs).as("e"))
        .select($"doc_id", $"e.band", $"e.sig")
    }
    (mh, bands)
  }

  private def minhashBandPairs(bands: DataFrame): DataFrame = {
    import bands.sparkSession.implicits._
    bands.as("a")
      .join(bands.as("b"), $"a.band" === $"b.band" && $"a.sig" === $"b.sig" &&
        $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** The REPRESENTATIVE-level MinHash graph behind D2's collapsed path:
    * (groups, repPairs(ra,rb,sim), selfPairs(rep,sim)). D2 expands it to
    * the doc-level pair contract; D7's collapse-first closure consumes
    * it directly — components over g-sized clone groups need the rep
    * graph, not the Σ C(g,2) expanded pair list (24.7M rows at sf10). */
  private[graft] def minhashRepGraph(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val groups = exactGroupsOf(docs.select($"doc_id", $"text"), s"ngram-groups:$dir")
    val reps = docs.join(groups.filter($"doc_id" === $"rep").select($"doc_id"), "doc_id")
    val (mh, bands) = minhashBandsOf(reps, "-rep", dir)
    val repPairs = minhashBandPairs(bands)
      .select($"doc_a".as("ra"), $"doc_b".as("rb"), $"n_bands".as("sim"))
    // clone pairs collide in every band; only reps with a signature (≥1
    // 3-gram, i.e. ≥3 words) generate candidates in the uncollapsed form
    val selfPairs = mh.select($"doc_id".as("rep"), lit(4L).as("sim"))
    (groups, repPairs, selfPairs)
  }

  // D3 — SimHash near-dup: 64-bit tf-weighted fingerprint (classical
  // Charikar simhash: every word OCCURRENCE votes, so documents sharing a
  // vocabulary but differing in frequencies still separate — distinct-set
  // voting collapsed this corpus's fingerprints to hamming 0).
  // The 64 bits live in two non-negative 32-bit halves (fp_lo bits 0–31,
  // fp_hi bits 32–63) so div/% band extraction never touches a sign bit
  // on either engine; candidates via 4 16-bit bands; emit pairs with
  // Hamming distance ≤ 8 (same 12.5% radius as the old 6-of-48).
  // r6: collapse-first like the rest of the family — clones share the
  // fingerprint, so they'd collide in every band (g² self-join rows);
  // fingerprints run on representatives, clone pairs expand at hamming 0
  // (identical fp — and every doc has one, wordsOf is never empty),
  // cross pairs inherit the rep pair's distance. Oracle unchanged.
  def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val collapse = hasExactClones(docs.select($"doc_id", $"text"), s"clonechk:$dir")
    val input =
      if (collapse) {
        val groups = exactGroupsOf(docs.select($"doc_id", $"text"), s"ngram-groups:$dir")
        docs.join(groups.filter($"doc_id" === $"rep").select($"doc_id"), "doc_id")
      } else docs
    val wd = input
      .select($"doc_id", explode(wordsOf($"text")).as("wrd"))
      .withColumn("h_lo", conv(substring(md5($"wrd"), 1, 8), 16, 10).cast("long"))
      .withColumn("h_hi", conv(substring(md5($"wrd"), 9, 8), 16, 10).cast("long"))
    // all 64 bit votes aggregate in ONE groupBy over the word rows (64
    // sum() columns) — no ×64 row explosion ahead of the shuffle
    def vote(i: Int): Column = {
      val bit =
        if (i < 32) expr(s"(h_lo div shiftleft(1L, $i)) % 2")
        else expr(s"(h_hi div shiftleft(1L, ${i - 32})) % 2")
      sum(when(bit === 1, 1).otherwise(-1)).as(s"v$i")
    }
    val votes = wd.groupBy($"doc_id").agg(vote(0), (1 until 64).map(vote): _*)
    val fp = Caches.cached(s"simhash-fp:$dir") { // feeds bands AND selfPairs
      votes.select($"doc_id",
        (0 until 32).map(i => when(col(s"v$i") > 0, 1L << i).otherwise(0L))
          .reduce(_ + _).as("fp_lo"),
        (32 until 64).map(i => when(col(s"v$i") > 0, 1L << (i - 32)).otherwise(0L))
          .reduce(_ + _).as("fp_hi"))
    }
    val banded = Caches.cached(s"simhash-banded:$dir") {
      fp.select($"doc_id", $"fp_lo", $"fp_hi",
        explode(sequence(lit(0), lit(3))).as("k"))
        .withColumn("bv", expr(
          "CASE WHEN k < 2 THEN (fp_lo div shiftleft(1L, 16*k)) % 65536" +
          " ELSE (fp_hi div shiftleft(1L, 16*(k-2))) % 65536 END"))
    } // self-joined below
    val a = banded.as("a")
    val b = banded.as("b")
    val repPairs = a
      .join(b, $"a.k" === $"b.k" && $"a.bv" === $"b.bv" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ra"), $"b.doc_id".as("rb"),
        expr("bit_count(a.fp_lo ^ b.fp_lo) + bit_count(a.fp_hi ^ b.fp_hi)")
          .cast("long").as("sim"))
      .distinct()
      .filter($"sim" <= 8)
    if (!collapse)
      repPairs.select($"ra".as("doc_a"), $"rb".as("doc_b"), $"sim".as("hamming"))
        .orderBy($"doc_a", $"doc_b")
    else {
      val groups = exactGroupsOf(docs.select($"doc_id", $"text"), s"ngram-groups:$dir")
      val selfPairs = fp.select($"doc_id".as("rep"), lit(0L).as("sim"))
      expandPairs(groups, repPairs, selfPairs)
        .select($"doc_a", $"doc_b", $"sim".as("hamming"))
        .orderBy($"doc_a", $"doc_b")
    }
  }

  /** df-capped word-bigram shingle sets — shared by D4 (exact) and D4b
    * (LSH candidates). Shingles present in > 20% of documents are
    * stop-shingles: they carry no near-dup signal but dominate the
    * inverted index's pair fanout (the quadratic term), so they are
    * dropped from the shingle sets on BOTH engines — at 100 TB this cap
    * is what keeps the exact join near-linear. */
  private[graft] def cappedShingles(s: SparkSession, dir: String): DataFrame =
    cappedShinglesFlatOf(Tables.documents(s, dir), s"ngram-sh:$dir")

  private def cappedShinglesFlatOf(docs: DataFrame, cacheKey: String): DataFrame =
    Caches.cached(cacheKey) { // read by join sides + sizes + sigs
      import docs.sparkSession.implicits._
      import org.apache.spark.sql.expressions.Window
      val all = shinglesOf(docs, 2)
      // corpus size enters as a broadcast single-row aggregate, not a
      // driver-side count: the whole query stays one lazy plan. The df
      // cap rides a window over the shingle key — ONE shuffle by s,
      // where the r1 groupBy+join formulation shuffled twice on the
      // same key (r4).
      val nDocs = docs.agg(count(lit(1)).cast("double").as("nd"))
      all.crossJoin(broadcast(nDocs))
        .withColumn("df", count(lit(1)).over(Window.partitionBy($"s")))
        .filter($"df" <= $"nd" * 0.2)
        .select($"doc_id", $"s")
    }

  /** One cheap aggregate: does the corpus contain ANY exact-duplicate
    * text? The collapse-first machinery below is mandatory on clone-heavy
    * corpora (g² amplification otherwise) but pure overhead on a
    * duplicate-free one (measured 2.5× on d_ngram_jaccard_lsh at sf0.1)
    * — so each near-dup operator gates on this and takes the flat path
    * when there is nothing to collapse. One scan + agg, amortized by the
    * session cache against the several passes it decides between. */
  // The collapse decision rides the clone MASS, not clone existence: a
  // duplicate group of size g does g² of candidate/re-rank work in the
  // flat pipeline, so the amplification a corpus carries is Σg² vs the
  // linear n — collapse only when Σg² > 2n (clone-induced pair work
  // exceeds the corpus itself). A corpus with a few stray clone pairs
  // (sf0.1 ships 8 in 5000 docs) stays flat: the existence-gated first
  // cut sent it down the collapsed path and its ~6 extra stages cost
  // 2.5× at bench scale for zero savings. Memoized per key for the JVM
  // lifetime (corpus dirs are immutable within a session); one aggregate
  // job per corpus per session, amortized against the passes it decides.
  private val cloneCheckMemo = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private[graft] def hasExactClones(docs: DataFrame, cacheKey: String): Boolean =
    cloneCheckMemo.getOrElseUpdate(cacheKey, {
      import docs.sparkSession.implicits._
      val r = docs.groupBy(md5($"text")).agg(count(lit(1)).as("g"))
        .agg(coalesce(sum(($"g" * $"g").cast("double")), lit(0.0)).as("sq"),
          coalesce(sum($"g").cast("double"), lit(0.0)).as("n"))
        .head()
      r.getDouble(0) > 2.0 * r.getDouble(1) // empty corpus: 0 > 0 → flat
    })

  /** Same gate for embedding frames: bit-identical vector clone mass. */
  private def hasExactVecClones(e: DataFrame, cacheKey: String): Boolean =
    cloneCheckMemo.getOrElseUpdate(cacheKey, {
      import e.sparkSession.implicits._
      val r = e.groupBy($"v").agg(count(lit(1)).as("g"))
        .agg(coalesce(sum(($"g" * $"g").cast("double")), lit(0.0)).as("sq"),
          coalesce(sum($"g").cast("double"), lit(0.0)).as("n"))
        .head()
      r.getDouble(0) > 2.0 * r.getDouble(1) // empty corpus: 0 > 0 → flat
    })

  /** Exact-duplicate groups of a (doc_id, text) frame: every doc mapped
    * to its group's representative (smallest doc_id of identical text).
    * The collapse-first contract for the near-dup operators below: clones
    * have identical shingle sets, so candidate generation and re-rank can
    * run on representatives only — the r6 sf1 probe measured the clone
    * amplification this removes (a duplicate group of size g inflates
    * band-bucket candidates and re-rank payload by g²; d_ngram_jaccard_lsh
    * went 2 s → 212 s on a 10×-replicated corpus). */
  private[graft] def exactGroupsOf(docs: DataFrame, cacheKey: String): DataFrame =
    Caches.cached(cacheKey) {
      import docs.sparkSession.implicits._
      val gb = docs.groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("rep"), count(lit(1)).as("m"))
      docs.select($"doc_id", md5($"text").as("h"))
        .join(gb, "h")
        .select($"doc_id", $"rep", $"m")
    }

  /** Df-capped shingles of the REPRESENTATIVE docs only, with the df
    * weighted by group multiplicity — numerically identical to the
    * all-docs df (clones contribute identical shingle sets), so the
    * capped set of a representative equals the capped set of each of its
    * clones and the collapsed pipeline's output is bit-equal to the
    * uncollapsed one. */
  private def cappedRepShinglesOf(docs: DataFrame, keyPrefix: String): DataFrame =
    Caches.cached(s"ngram-repsh:$keyPrefix") {
      import docs.sparkSession.implicits._
      import org.apache.spark.sql.expressions.Window
      val groups = exactGroupsOf(docs.select($"doc_id", $"text"), s"ngram-groups:$keyPrefix")
      val reps = docs.join(
        groups.filter($"doc_id" === $"rep").select($"doc_id", $"m"), "doc_id")
      val nDocs = docs.agg(count(lit(1)).cast("double").as("nd"))
      shinglesOf(reps.select($"doc_id", $"text"), 2)
        .join(reps.select($"doc_id", $"m"), "doc_id")
        .crossJoin(broadcast(nDocs))
        .withColumn("df", sum($"m").over(Window.partitionBy($"s")))
        .filter($"df" <= $"nd" * 0.2)
        .select($"doc_id", $"s")
    }

  /** Expand representative-level near-dup pairs back to all-docs pairs:
    * cross pairs inherit the rep pair's similarity (identical texts ⇒
    * identical re-rank arithmetic), within-group pairs are clone pairs
    * with the given selfSim. Output-sized work — the g² term pays only
    * for rows the contract itself requires. */
  private def expandPairs(groups: DataFrame, repPairs: DataFrame,
      selfPairs: DataFrame): DataFrame = {
    import groups.sparkSession.implicits._
    val members = groups.select($"doc_id", $"rep")
    val cross = repPairs
      .join(members.select($"doc_id".as("ida"), $"rep".as("ra")), "ra")
      .join(members.select($"doc_id".as("idb"), $"rep".as("rb")), "rb")
      .select(least($"ida", $"idb").as("doc_a"),
        greatest($"ida", $"idb").as("doc_b"), $"sim")
    val within = selfPairs // (rep, sim) for reps that qualify against a clone
      .join(members.select($"doc_id".as("ida"), $"rep"), "rep")
      .join(members.select($"doc_id".as("idb"), $"rep"), "rep")
      .filter($"ida" < $"idb")
      .select($"ida".as("doc_a"), $"idb".as("doc_b"), $"sim")
    cross.unionAll(within)
  }

  /** Per-doc shingle SET (array) + size, cached per dir: both re-rank
    * joins read it, and array payloads are bounded by the df-capped
    * per-doc shingle count (≈ doc length), so the rows ship safely at
    * any scale. */
  private[graft] def docSets(s: SparkSession, dir: String): DataFrame =
    docSetsOf(cappedShingles(s, dir), s"ngram-docsets:$dir")

  private def docSetsOf(capped: DataFrame, cacheKey: String): DataFrame =
    Caches.cached(cacheKey) {
      import capped.sparkSession.implicits._
      capped
        .groupBy($"doc_id")
        .agg(sort_array(collect_set($"s")).as("ss"))
        .select($"doc_id", $"ss", size($"ss").cast("long").as("n"))
    }

  /** Exact Jaccard + threshold for given candidate pairs: |∩| in-row via
    * array_intersect over the per-doc sets — two key joins and zero
    * re-aggregation, where the r1 form re-joined the exploded shingle
    * frame twice and re-grouped the matches (r4). */
  private def jaccardRerank(sets: DataFrame, cand: DataFrame): DataFrame = {
    import sets.sparkSession.implicits._
    cand
      .join(sets.select($"doc_id".as("doc_a"), $"ss".as("sa"), $"n".as("na")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"ss".as("sb"), $"n".as("nb")), "doc_b")
      .withColumn("ni", size(array_intersect($"sa", $"sb")).cast("long"))
      .withColumn("jacc_raw", $"ni".cast("double") / ($"na" + $"nb" - $"ni"))
      .filter($"jacc_raw" >= 0.5)
      .select($"doc_a", $"doc_b", round($"jacc_raw", 6).as("jacc"))
      .orderBy($"doc_a", $"doc_b")
  }

  // D4 — n-gram Jaccard near-dup: word-bigram sets, inverted-index join
  // for |∩|, Jaccard ≥ 0.5 — the exact baseline MinHash approximates.
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = cappedShingles(s, dir)
    val a = sh.as("a")
    val b = sh.as("b")
    val cand = a.join(b, $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    jaccardRerank(docSets(s, dir), cand)
  }

  /** MinHash band signatures over a (doc_id, s) shingle frame: nPerm
    * permutations in bands of bandSize; two docs are candidates iff some
    * band signature matches. One groupBy with nPerm min() columns — the
    * shuffle carries one row per doc, never nPerm× the shingle rows. */
  private[graft] def minhashBandSigs(sh: DataFrame, nPerm: Int, bandSize: Int): DataFrame = {
    import sh.sparkSession.implicits._
    val M = 1000000007L
    val h = sh.select($"doc_id", (h64($"s") % M).as("hv"))
    def perm(j: Int): Column =
      min((lit(2L * j + 1) * $"hv" + lit(17L * j + 3)) % M).as(s"m$j")
    val mh = h.groupBy($"doc_id").agg(perm(0), (1 until nPerm).map(perm): _*)
    val bandStructs = array((0 until nPerm / bandSize).map { b =>
      struct(lit(b.toLong).as("band"),
        concat_ws(",", (0 until bandSize).map(k =>
          col(s"m${bandSize * b + k}").cast("string")): _*).as("sig"))
    }: _*)
    mh.select($"doc_id", explode(bandStructs).as("e"))
      .select($"doc_id", $"e.band", $"e.sig")
  }

  // D4b — the sub-quadratic path for D4: MinHash band-bucket candidates
  // (24 perms, 12 bands of 2) over the SAME df-capped bigram sets, then
  // exact Jaccard re-rank — so the output is identical to D4 whenever no
  // qualifying pair is missed. This corpus's qualifying pairs all sit at
  // Jaccard ≥ 0.9, where a pair escapes all 12 bands with probability
  // ≤ (1-0.9²)¹² ≈ 2e-9 — and the hashing is deterministic (md5-derived),
  // so the oracle equality is a fixed fact of the data, not a coin flip.
  // The same oracle as D4 checks it: sub-quadratic candidates, exact
  // output.
  // r6: collapse-first — identical texts map to one representative, the
  // band join and re-rank run on representatives only (weighted df keeps
  // the capped sets bit-equal to the uncollapsed ones), and the expansion
  // back to all-docs pairs is output-sized. On a duplicate-free corpus
  // this degenerates to the previous plan (same hash); on a clone-heavy
  // corpus it removes the g² clone amplification from every shuffle (the
  // sf1 probe: 212 s → re-measured after the fix, see SURVEY §5).
  def ngramJaccardLsh(s: SparkSession, dir: String, nPerm: Int = 24,
      bandSize: Int = 2): DataFrame =
    ngramJaccardLshOn(Tables.documents(s, dir), dir, nPerm, bandSize)

  /** D4b core over an arbitrary (doc_id, text) frame (fixture specs plant
    * clone-heavy corpora to pin the collapse+expand equivalence). Gated on
    * clone mass: a corpus whose duplicate groups do less pair work than
    * a linear pass (Σg² ≤ 2n) takes the flat path — collapse would be
    * pure overhead — and a clone-heavy one collapses first. */
  private[graft] def ngramJaccardLshOn(docs: DataFrame, keyPrefix: String,
      nPerm: Int = 24, bandSize: Int = 2,
      collapseOverride: Option[Boolean] = None): DataFrame = {
    import docs.sparkSession.implicits._
    // cached sigs: the self-join reads the signature frame twice, and
    // Catalyst does not reuse the minhash groupBy across join sides
    def candidatesOf(capped: DataFrame, tag: String): DataFrame = {
      val sigs = Caches.cached(s"ngram-sigs$tag:$keyPrefix:$nPerm:$bandSize") {
        minhashBandSigs(capped, nPerm, bandSize)
      }
      sigs.as("a")
        .join(sigs.as("b"),
          $"a.band" === $"b.band" && $"a.sig" === $"b.sig" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .distinct()
    }
    // collapseOverride: test hook — the gate-equivalence property spec
    // forces BOTH paths on the same corpus to assert flat ≡ collapsed
    val collapse = collapseOverride.getOrElse(
      hasExactClones(docs.select($"doc_id", $"text"), s"clonechk:$keyPrefix"))
    if (!collapse) {
      val capped = cappedShinglesFlatOf(docs, s"ngram-sh:$keyPrefix")
      jaccardRerank(docSetsOf(capped, s"ngram-docsets:$keyPrefix"),
        candidatesOf(capped, ""))
    } else {
      val (groups, repPairs, selfPairs) =
        ngramRepGraph(docs, keyPrefix, nPerm, bandSize)
      expandPairs(groups, repPairs, selfPairs)
        .select($"doc_a", $"doc_b", $"sim".as("jacc"))
        .orderBy($"doc_a", $"doc_b")
    }
  }

  /** The REPRESENTATIVE-level Jaccard graph behind D4b's collapsed path
    * (mirror of minhashRepGraph for the word-set family): (groups,
    * repPairs(ra,rb,sim≥0.5), selfPairs(rep,1.0)). D4b expands it to the
    * doc-level pair contract; P1's cluster closure consumes it directly. */
  private[graft] def ngramRepGraph(docs: DataFrame, keyPrefix: String,
      nPerm: Int = 24, bandSize: Int = 2): (DataFrame, DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    def candidatesOf(capped: DataFrame, tag: String): DataFrame = {
      val sigs = Caches.cached(s"ngram-sigs$tag:$keyPrefix:$nPerm:$bandSize") {
        minhashBandSigs(capped, nPerm, bandSize)
      }
      sigs.as("a")
        .join(sigs.as("b"),
          $"a.band" === $"b.band" && $"a.sig" === $"b.sig" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .distinct()
    }
    val groups = exactGroupsOf(docs.select($"doc_id", $"text"), s"ngram-groups:$keyPrefix")
    val capped = cappedRepShinglesOf(docs, keyPrefix)
    val repSets = docSetsOf(capped, s"ngram-repsets:$keyPrefix")
    val repPairs = jaccardRerank(repSets, candidatesOf(capped, "-rep"))
      .select($"doc_a".as("ra"), $"doc_b".as("rb"), $"jacc".as("sim"))
    // clone pairs: identical capped sets ⇒ Jaccard exactly 1.0; only
    // reps with a non-empty capped set generate candidates in the
    // uncollapsed pipeline, and repSets contains exactly those
    val selfPairs = repSets.select($"doc_id".as("rep"), lit(1.0).as("sim"))
    (groups, repPairs, selfPairs)
  }

  // D9 — incremental cross-dedup: a NEW ingest batch (the deterministic
  // doc_id%10=7 slice here; a daily crawl increment in production) near-
  // dup-checked against the STANDING corpus only — new×old pairs, never
  // corpus×corpus. This is the shape that keeps dedup affordable once the
  // corpus exists: the increment is small relative to the corpus, the
  // inverted-index join shuffles on the df-capped shingle key exactly as
  // D4 does, and the pair volume is increment-driven. At 100 TB the
  // corpus-side shingle index is a maintained bucketed table, so the
  // daily cost scales with the increment, not the archive. (IngestDedup
  // is the EXACT-duplicate streaming leg; this is the near-dup batch leg.)
  def crossDedup(s: SparkSession, dir: String): DataFrame =
    crossDedupOn(Tables.documents(s, dir), dir)

  /** D9 core, collapse-first like the rest of the near-dup family (the
    * sf1 probe made the flat form FILL THE DISK with spill: a clone group
    * of size g contributes g_new × g_old rows to every shared-shingle
    * bucket — the same g² amplification D4 had, on the asymmetric join).
    * Collapsed path: candidates and re-rank run on representatives
    * (weighted-df capped sets, bit-equal — the D4b argument), rep pairs
    * keep only orientations some (new, old) expansion can use, and the
    * expansion back is output-sized; same-group (new, old) clone pairs
    * score exactly 1.0 when the rep's capped set is non-empty, exactly
    * as the flat join would. */
  private[graft] def crossDedupOn(docs: DataFrame, keyPrefix: String): DataFrame = {
    import docs.sparkSession.implicits._
    def rerankAsym(sets: DataFrame, cand: DataFrame): DataFrame =
      cand
        .join(sets.select($"doc_id".as("doc_new"), $"ss".as("sa"), $"n".as("na")), "doc_new")
        .join(sets.select($"doc_id".as("doc_old"), $"ss".as("sb"), $"n".as("nb")), "doc_old")
        .withColumn("ni", size(array_intersect($"sa", $"sb")).cast("long"))
        .withColumn("jacc_raw", $"ni".cast("double") / ($"na" + $"nb" - $"ni"))
        .filter($"jacc_raw" >= 0.5)
        .select($"doc_new", $"doc_old", round($"jacc_raw", 6).as("jacc"))
    if (!hasExactClones(docs.select($"doc_id", $"text"), s"clonechk:$keyPrefix")) {
      val sh = cappedShinglesFlatOf(docs, s"ngram-sh:$keyPrefix")
      val cand = sh.as("nw").filter($"doc_id" % 10 === 7)
        .join(sh.as("old").filter($"doc_id" % 10 =!= 7), $"nw.s" === $"old.s")
        .select($"nw.doc_id".as("doc_new"), $"old.doc_id".as("doc_old"))
        .distinct()
      rerankAsym(docSetsOf(sh, s"ngram-docsets:$keyPrefix"), cand)
        .orderBy($"doc_new", $"doc_old")
    } else {
      val groups = exactGroupsOf(docs.select($"doc_id", $"text"), s"ngram-groups:$keyPrefix")
      val capped = cappedRepShinglesOf(docs, keyPrefix)
      val repSets = docSetsOf(capped, s"ngram-repsets:$keyPrefix")
      val members = groups.select($"doc_id", $"rep")
      val newM = members.filter($"doc_id" % 10 === 7)
      val oldM = members.filter($"doc_id" % 10 =!= 7)
      // per-rep slice flags: a rep pair is worth re-ranking only in the
      // orientations some (new, old) expansion will actually use
      val flags = Caches.cached(s"cross-flags:$keyPrefix") {
        members.groupBy($"rep").agg(
          max(when($"doc_id" % 10 === 7, 1).otherwise(0)).as("has_new"),
          max(when($"doc_id" % 10 =!= 7, 1).otherwise(0)).as("has_old"))
      }
      val cand = capped.as("a")
        .join(capped.as("b"), $"a.s" === $"b.s" && $"a.doc_id" =!= $"b.doc_id")
        .select($"a.doc_id".as("doc_new"), $"b.doc_id".as("doc_old"))
        .distinct()
        .join(flags.filter($"has_new" === 1).select($"rep".as("doc_new")), "doc_new")
        .join(flags.filter($"has_old" === 1).select($"rep".as("doc_old")), "doc_old")
      val repPairs = rerankAsym(repSets, cand)
        .select($"doc_new".as("ra"), $"doc_old".as("rb"), $"jacc")
      val cross = repPairs
        .join(newM.select($"doc_id".as("doc_new"), $"rep".as("ra")), "ra")
        .join(oldM.select($"doc_id".as("doc_old"), $"rep".as("rb")), "rb")
        .select($"doc_new", $"doc_old", $"jacc")
      // same-group clone pairs: identical capped sets ⇒ jacc exactly 1.0;
      // only reps with a non-empty capped set pair up in the flat form
      val within = newM.select($"doc_id".as("doc_new"), $"rep")
        .join(oldM.select($"doc_id".as("doc_old"), $"rep"), "rep")
        .join(repSets.select($"doc_id".as("rep")), "rep")
        .select($"doc_new", $"doc_old", lit(1.0).as("jacc"))
      cross.unionAll(within).orderBy($"doc_new", $"doc_old")
    }
  }

  // D7 — near-dup CLUSTER resolution: connected components over the
  // MinHash pair graph. Pairwise removal is not transitive (A~B and B~C
  // do not imply A~C), so principled dedup keeps one doc per CLUSTER:
  // cluster_id = smallest doc_id reachable through near-dup pairs,
  // singletons are their own cluster. Components run as min-label
  // propagation in DataFrames: the pair graph is tiny relative to the
  // corpus (near-dup clusters are small by construction), labels shuffle
  // by node key, and each iteration truncates lineage with
  // localCheckpoint — iterations ≤ cluster diameter, which for near-dup
  // clusters is a handful. The per-iteration driver round-trip is one
  // COUNT of changed labels (convergence test), never the data.
  //
  // r7, collapse-first like the pair operators: on a clone-heavy corpus
  // the expanded pair list is Σ C(g,2) rows (24.7M at sf10) and every
  // closure iteration shuffles it, but the components of the expanded
  // graph are recoverable from the REP graph alone — a clone group is a
  // complete subgraph hanging off its representative (when the rep has a
  // MinHash signature; sub-3-word groups emit no pairs and stay
  // singletons, exactly as the flat form leaves them), and cross-group
  // edges exist precisely where rep pairs do. So: components over rep
  // pairs, then one join expands labels to members. cluster_id is
  // preserved exactly: the rep IS its group's min doc_id, so the
  // component-min rep is the component-min doc. The clone-fixture spec
  // pins collapsed ≡ closure-over-expanded-pairs, sub-3-word group
  // included.
  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    if (!hasExactClones(docs.select($"doc_id", $"text"), s"clonechk:$dir"))
      dupClustersOf(docs.select($"doc_id"),
        minhashLsh(s, dir).select($"doc_a", $"doc_b"))
    else {
      val (groups, repPairs, selfPairs) = minhashRepGraph(s, dir)
      clustersFromRepGraph(docs.select($"doc_id"), groups, repPairs, selfPairs)
        .orderBy($"doc_id")
    }
  }

  /** Collapse-first component closure shared by D7 (MinHash graph) and
    * P1 (Jaccard graph): components over rep pairs, labels expanded to
    * members. A member clusters with its rep iff the rep has a
    * signature/non-empty set (`selfReps`) — otherwise the flat pair form
    * emits nothing for the group and every member stays a singleton. */
  private[graft] def clustersFromRepGraph(ids: DataFrame, groups: DataFrame,
      repPairs: DataFrame, selfReps: DataFrame): DataFrame = {
    import ids.sparkSession.implicits._
    val repClusters = dupClustersOf(
      groups.select($"rep".as("doc_id")).distinct(),
      repPairs.select($"ra".as("doc_a"), $"rb".as("doc_b")))
      .select($"doc_id".as("rep"), $"cluster_id".as("rl"))
    val sigReps = selfReps.select($"rep").distinct()
      .withColumn("has_sig", lit(1))
    ids
      .join(groups.select($"doc_id", $"rep"), "doc_id")
      .join(sigReps, Seq("rep"), "left")
      .join(repClusters, Seq("rep"), "left")
      .select($"doc_id",
        when($"has_sig".isNotNull, coalesce($"rl", $"rep"))
          .otherwise($"doc_id").as("cluster_id"))
  }

  /** P1's loser set through the collapsed closure: every doc that is not
    * its D4b-near-dup CLUSTER's smallest id, computed from the rep graph
    * without materializing the Σ C(g,2) expanded pair list. Falls back
    * to the flat closure below the clone-mass gate (identical result;
    * the fixture spec pins equivalence). */
  private[graft] def ngramDupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    if (!hasExactClones(docs.select($"doc_id", $"text"), s"clonechk:$dir"))
      dupClustersOf(docs.select($"doc_id"),
        ngramJaccardLsh(s, dir).select($"doc_a", $"doc_b"))
    else {
      val (groups, repPairs, selfPairs) = ngramRepGraph(docs, dir)
      clustersFromRepGraph(docs.select($"doc_id"), groups, repPairs, selfPairs)
    }
  }

  /** D7 core: components of an undirected pair list, joined back to the
    * full id universe (fixture-testable). */
  private[graft] def dupClustersOf(ids: DataFrame,
      pairs: DataFrame): DataFrame = GraftCheckpoint.scoped { scope =>
    import ids.sparkSession.implicits._
    val arcs = scope.checkpoint(pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .unionAll(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))))
    val state = scope.rounds()
    var labels = state.checkpoint(arcs.select($"src".as("node")).distinct()
      .select($"node", $"node".as("lbl")))
    var changed = 1L
    while (changed > 0) {
      val nbrMin = arcs.join(labels, $"dst" === $"node")
        .groupBy($"src").agg(min($"lbl").as("nlbl"))
      // a changed flag rides the projection; the round's checkpoint pass
      // counts it (observed, no job of its own)
      val next = labels.join(nbrMin, $"node" === $"src", "left")
        .withColumn("nlbl2", least($"lbl", coalesce($"nlbl", $"lbl")))
        .select($"node", $"nlbl2".as("newlbl"), ($"nlbl2" =!= $"lbl").as("chg"))
        .observe("dup_changed", count_if($"chg"))
      labels = state.checkpoint(next).select($"node", $"newlbl".as("lbl"))
      changed = next.queryExecution.observedMetrics("dup_changed").getLong(0)
    }
    ids.join(labels.select($"node".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"lbl", $"doc_id").as("cluster_id"))
      .orderBy($"doc_id")
  }

  // D6 — benchmark decontamination: a training document is contaminated
  // iff it shares ≥1 word-5-gram with any held-out benchmark document
  // (the n-gram-overlap decontamination every LLM training pipeline runs
  // before training; 13-grams at real scale, 5 here to fit the 10–99-word
  // corpus). The held-out set is the deterministic doc_id%10=0 slice.
  // Shape: the same inverted-index equi-join as D4 — candidates come from
  // a shared-shingle match (high-cardinality key, AQE-skew-tolerant), and
  // the benchmark side of a decontamination run is ALWAYS small relative
  // to the corpus, so at 100 TB the bench shingle set broadcasts.
  def decontaminate(s: SparkSession, dir: String, n: Int = 5): DataFrame =
    decontaminateOn(Tables.documents(s, dir), n, s"decon-sh:$dir:$n")

  /** D6 core over an arbitrary (doc_id, text) frame. */
  private[graft] def decontaminateOn(docs: DataFrame, n: Int,
      cacheKey: String): DataFrame = {
    import docs.sparkSession.implicits._
    val sh = Caches.cached(cacheKey) {
      shinglesOf(docs, n)
    } // the bench/train split reads it twice
    val bench = sh.filter($"doc_id" % 10 === 0)
    val train = sh.filter($"doc_id" % 10 =!= 0)
    // A real decontamination run joins a bounded external benchmark set
    // against an unbounded corpus — but THIS bench slice (doc_id%10=0) is
    // ~10% of the corpus and grows with it, so a hard broadcast hint would
    // eventually exceed any driver. Gate the hint on the optimizer's size
    // estimate: hint only while the bench side plausibly fits the
    // configured broadcast threshold; beyond that let AQE pick the join
    // (it can still broadcast at runtime from exact shuffle stats).
    val spark = docs.sparkSession
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim
    val thresholdBytes = // "-1" disables broadcasting (and throws in byteStringAsBytes)
      if (raw.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    val benchEstimate = bench.queryExecution.optimizedPlan.stats.sizeInBytes
    val benchSide =
      if (thresholdBytes > 0 && benchEstimate <= BigInt(thresholdBytes))
        broadcast(bench.as("b"))
      else bench.as("b")
    train.as("t").join(benchSide, $"t.s" === $"b.s")
      .groupBy($"t.doc_id".as("doc_id"))
      .agg(countDistinct($"b.doc_id").as("n_bench_docs"),
        countDistinct($"t.s").as("n_shingles_hit"))
      .orderBy($"doc_id")
  }

  // D6c — Bloom-prefiltered decontamination: D6's exact contract behind a
  // sketch gate. The bench side's distinct shingles build one Bloom filter
  // (df.stat.bloomFilter — distributed treeAggregate build), and the
  // TRAIN side's shingles stream through the codegen'd probe
  // (functions.BloomProbe) BEFORE any shuffle: at 100 TB the corpus-side
  // gram stream never reaches the exchange unless the sketch says it
  // might match, so the shuffled volume tracks the contamination rate
  // (~0 for a clean corpus), not the corpus size — the anti-join shape a
  // benchmark scrub wants when the bench set is bounded but the corpus
  // is not. No false negatives (Bloom guarantee) and the exact confirm
  // join removes false positives, so the output is IDENTICAL to D6 and
  // shares its SQL oracle; the spec additionally pins bloom ≡ exact and
  // the survivor-fraction bound at the configured fpp.
  def decontaminateBloom(s: SparkSession, dir: String, n: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    import s.implicits._
    val sh = Caches.cached(s"decon-sh:$dir:$n") {
      shinglesOf(Tables.documents(s, dir), n)
    }
    val bench = sh.filter($"doc_id" % 10 === 0)
    val train = sh.filter($"doc_id" % 10 =!= 0)
    val benchH = bench.select(xxhash64($"s").as("h"))
    val nBench = benchH.count()
    // stat.bloomFilter NPEs on an empty build side; an empty bench set
    // can match nothing anyway
    val survivors =
      if (nBench == 0) train.limit(0)
      else train.filter(bloomProbe(xxhash64($"s"),
        benchH.stat.bloomFilter("h", nBench, fpp)))
    survivors.as("t").join(bench.as("b"), $"t.s" === $"b.s")
      .groupBy($"t.doc_id".as("doc_id"))
      .agg(countDistinct($"b.doc_id").as("n_bench_docs"),
        countDistinct($"t.s").as("n_shingles_hit"))
      .orderBy($"doc_id")
  }

  // D6b — SEMANTIC benchmark decontamination: a training vector is
  // contaminated iff it sits within cosine τ of any held-out eval vector —
  // the embedding-space complement of D6's n-gram overlap scrub (paraphrased
  // eval leakage that shares no 5-gram still lands nearby in embedding
  // space). Held-out slice = the deterministic vec_id%10=0 subset, mirroring
  // D6. Shape: the eval side of a decontamination run is a bounded external
  // benchmark suite, so it broadcasts and the training corpus streams
  // through ONE codegen'd pass (vec_dot per (train, eval) pair — linear in
  // corpus × |eval|, no shuffle of the train side, same contract as D6's
  // broadcast). Exact by construction; the sub-quadratic candidate tricks
  // (cells/LSH) are unnecessary while |eval| stays benchmark-sized.
  def decontaminateSemantic(s: SparkSession, dir: String, tau: Double = 0.35): DataFrame = {
    import s.implicits._
    val e = VectorOps.normed(s, dir)
    val eval = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("eid"), $"v".as("ev"), $"nrm".as("en"))
    e.filter($"vec_id" % 10 =!= 0)
      .crossJoin(broadcast(eval))
      .withColumn("sim", round(vecDot($"v", $"ev") / ($"nrm" * $"en"), 6))
      .filter($"sim" >= tau)
      .groupBy($"vec_id")
      .agg(count(lit(1)).as("n_eval_hits"), max($"sim").as("max_sim"))
      .orderBy($"vec_id")
  }

  // D10 — duplicated-span coverage (`d_dup_spans`): the ExactSubstr idea
  // of Lee et al. 2022 ("Deduplicating Training Data Makes Language
  // Models Better") re-expressed at n-gram granularity — a position is
  // duplicated if its n-gram occurs more than once in the CORPUS
  // (another doc or a repeat in the same doc), and the per-doc signal is
  // the fraction of positions so covered. Doc-level dedup (D1-D7) keeps
  // one copy of a page; THIS catches the boilerplate/quote/template mass
  // that survives it, which is what substring-level scrubs remove at
  // pretraining scale (there via suffix arrays; the n-gram form is the
  // shuffle-keyed approximation a Spark cluster runs well).
  // Shape: positional 5-grams (no distinct), pre-aggregated per
  // (doc, gram) — groupBy gets map-side combine, so a hot boilerplate
  // gram arrives at the shuffle as one partial row per map task, where a
  // window-over-gram would ship every occurrence to one reducer. Global
  // counts re-aggregate from the SAME per-doc partials (one extra keyed
  // shuffle of the pre-shrunk frame), the dup flag joins back on the
  // gram key (AQE-skew-tolerant), and the doc rollup is the final keyed
  // shuffle. Short docs (< n words) emit no grams and re-enter via the
  // left join with n_grams = 0.
  def dupSpans(s: SparkSession, dir: String, n: Int = 5): DataFrame =
    dupSpansOf(Tables.documents(s, dir), n)

  /** D10 core over an arbitrary (doc_id, text) frame. */
  private[graft] def dupSpansOf(docs: DataFrame, n: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val perDoc = shinglesOf(docs.select($"doc_id", $"text"), n, dedup = false)
      .groupBy($"doc_id", $"s").agg(count(lit(1)).as("c"))
    val global = perDoc.groupBy($"s").agg(sum($"c").as("cnt"))
    val rolled = perDoc.join(global, "s")
      .groupBy($"doc_id")
      .agg(sum($"c").as("g"), sum(when($"cnt" > 1, $"c").otherwise(0L)).as("d"))
    docs.select($"doc_id").join(rolled, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"g", lit(0L)).as("n_grams"),
        coalesce($"d", lit(0L)).as("n_dup"),
        coalesce(round($"d".cast("double") / $"g", 6), lit(0.0)).as("dup_frac"))
      .orderBy($"doc_id")
  }

  // D12 — line-level inter-document dedup (`d_line_dedup`): the CCNet /
  // RefinedWeb boilerplate scrub (Wenzek et al. 2020 §3.1 paragraph
  // dedup; Penedo et al. 2023 §4.2 line-wise filter) — REWRITE each
  // document by dropping the spans that recur across the corpus
  // (headers, footers, nav chrome at web scale). The corpus has no
  // newline structure, so a "line" is a deterministic non-overlapping
  // k-word segment (pos i covers words [i·k+1, i·k+k]); a segment is
  // boilerplate when it appears in ≥ minDf DISTINCT documents, and the
  // output is the doc with those segments removed plus removal stats.
  // D10 measures duplicated-span mass; THIS is the operator that edits
  // the corpus — the pair a pretraining pipeline runs in sequence.
  // Scale shape: three keyed shuffles, all high-cardinality —
  //   1. distinct (seg, doc_id) → groupBy(seg) for document frequency
  //      (map-side combine after the distinct);
  //   2. the mark join, segs ⋈ frequent-set on seg — the frequent set
  //      is the df ≥ minDf slice (boilerplate is a thin tail of the
  //      distinct-segment space), so AQE takes the broadcast plan when
  //      it fits and falls back to the skew-tolerant shuffle join when
  //      a 100 TB boilerplate set doesn't;
  //   3. the doc_id regroup that reassembles the text — collect_list
  //      order is nondeterministic, so segments carry their position
  //      and array_sort on struct(pos, seg) restores document order
  //      before the join; collect_list drops the NULLed (removed)
  //      segments for free.
  def lineDedup(s: SparkSession, dir: String, k: Int = 8,
      minDf: Int = 2): DataFrame =
    lineDedupOf(Tables.documents(s, dir), k, minDf)

  /** D12 core over an arbitrary (doc_id, text) frame. */
  private[graft] def lineDedupOf(docs: DataFrame, k: Int,
      minDf: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val segs = docs
      .select($"doc_id", wordsOf($"text").as("w"))
      .select($"doc_id", posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / ${k}.0) as int) - 1),
           |          i -> concat_ws(' ', slice(w, i * $k + 1, $k)))""".stripMargin)))
      .toDF("doc_id", "pos", "seg")
    val frequent = segs.select($"seg", $"doc_id").distinct()
      .groupBy($"seg").agg(count(lit(1)).as("df"))
      .filter($"df" >= minDf)
      .select($"seg", lit(1).as("is_dup"))
    segs.join(frequent, Seq("seg"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when($"is_dup".isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN is_dup IS NULL " +
            "THEN struct(pos, seg) END)), x -> x.seg)"), " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  // D5 — embedding-cosine near-dup on `embeddings`, exact at threshold τ,
  // restructured from the r1 all-pairs self-join into a k-means cell-pair
  // block join with triangle-inequality pruning:
  //   1. spherical k-means assigns every vector to a centroid cell;
  //   2. each cell's angular radius r_c = max angle(member, centroid);
  //   3. cell pair (i,j) can contain a qualifying pair only if
  //      angle(c_i,c_j) ≤ acos(τ) + r_i + r_j (triangle inequality on the
  //      sphere) — all other cell pairs are pruned before any row joins;
  //   4. surviving cell pairs equi-join on the cell key (broadcast of the
  //      k² pair list + shuffle hash join — no nested-loop all-pairs in
  //      the plan) and re-rank exactly.
  // Exact for ANY clustering (pruning is conservative), so the output —
  // and the DuckDB hash — is identical to the all-pairs definition. On
  // clustered corpora (real near-dup data) pruning drops most of the k²
  // cell pairs; this synthetic corpus is isotropic (qualifying pairs sit
  // at cosine 0.35–0.5, the random tail), so few pairs prune, but the
  // plan shape is the one that survives 100 TB: bounded driver state
  // (k centroids + k radii), shuffle keyed by cell, AQE-skew-tolerant.
  // The probabilistic sub-quadratic path for true near-dup thresholds
  // (τ ≥ 0.8) is `embeddingNearDupLsh` below.
  // iters default is low: pruning is conservative for ANY centroids, so
  // extra Lloyd passes only sharpen the cut (worth it on clusterable
  // corpora, pure fixed cost here); exactness never depends on it.
  def embeddingNearDup(s: SparkSession, dir: String, tau: Double = 0.35,
      nCells: Int = 8, iters: Int = 2): DataFrame =
    embeddingNearDupOn(VectorOps.normed(s, dir), tau, nCells, iters, dir)

  /** D5 with r6 collapse-first, over any normed frame (vec_id, v, nrm, u):
    * bit-identical vectors (exact-duplicate documents at 100 TB always
    * produce these) map to one representative; the quadratic cell-pair
    * join runs on representatives, then pairs expand back — cross pairs
    * inherit the rep pair's sim (identical operands ⇒ identical
    * arithmetic), clone pairs score round(v·v/nrm², 6) exactly as the
    * uncollapsed join would. sf1 probe: 121 s → see SURVEY §5. */
  private[graft] def embeddingNearDupOn(e: DataFrame, tau: Double,
      nCells: Int, iters: Int, keyPrefix: String): DataFrame = {
    import e.sparkSession.implicits._
    if (!hasExactVecClones(e, s"vclonechk:$keyPrefix"))
      return cellPairJoin(e, tau, nCells, iters, s"neardup-assigned:$keyPrefix")
    val vgroups = Caches.cached(s"neardup-vgroups:$keyPrefix") {
      val gb = e.groupBy($"v").agg(min($"vec_id").as("rep"))
      e.select($"vec_id", $"v").join(gb, "v").select($"vec_id", $"rep")
    }
    val reps = Caches.cached(s"neardup-reps:$keyPrefix") {
      e.join(vgroups.filter($"vec_id" === $"rep").select($"vec_id"), "vec_id")
    }
    val repPairs = cellPairJoin(reps, tau, nCells, iters, s"neardup-assigned:$keyPrefix")
      .select($"vec_a".as("ra"), $"vec_b".as("rb"), $"sim")
    val selfPairs = reps
      .withColumn("sim", round(vecDot($"v", $"v") / ($"nrm" * $"nrm"), 6))
      .filter($"sim" >= tau)
      .select($"vec_id".as("rep"), $"sim")
    expandPairs(vgroups.select($"vec_id".as("doc_id"), $"rep"), repPairs, selfPairs)
      .select($"doc_a".as("vec_a"), $"doc_b".as("vec_b"), $"sim")
      .orderBy($"vec_a", $"vec_b")
  }

  /** D5 core: exact τ-cosine pairs of a normed frame via the k-means
    * cell-pair block join with triangle-inequality pruning (exact for
    * ANY clustering — see the D5 header note). */
  private[graft] def cellPairJoin(e: DataFrame, tau: Double,
      nCells: Int, iters: Int, cacheKey: String): DataFrame = {
    import e.sparkSession.implicits._
    val s = e.sparkSession
    val cents = VecCluster.kmeans(e.select($"vec_id", $"u"), nCells, iters)
    if (cents.isEmpty) // empty corpus → no cells, no pairs
      return e.select($"vec_id".as("vec_a"), $"vec_id".as("vec_b"),
        lit(0.0).as("sim")).limit(0)
    val assigned = graft.Caches.cached(s"$cacheKey:$nCells:$iters") {
      e.select($"vec_id", $"v", $"nrm", VecCluster.cellOf($"u", cents).as("cell"),
        VecCluster.cellSimOf($"u", cents).as("csim"))
    }
    def clampAcos(x: Double) = math.acos(math.max(-1.0, math.min(1.0, x)))
    val radii = assigned.groupBy($"cell").agg(min($"csim").as("worst"))
      .collect().map(r => r.getInt(0) -> clampAcos(r.getDouble(1))).toMap
    val thetaTau = clampAcos(tau)
    def centAngle(i: Int, j: Int) =
      clampAcos(cents(i).zip(cents(j)).map { case (x, y) => x * y }.sum)
    val allowed = for {
      i <- cents.indices; j <- cents.indices
      if radii.contains(i) && radii.contains(j) &&
        centAngle(i, j) <= thetaTau + radii(i) + radii(j)
    } yield (i, j)
    val allowedDf = s.createDataFrame(allowed).toDF("ca", "cb")
    // minimal join payload: the re-rank needs only (vec_id, v, nrm) —
    // carrying the cached frame's u/csim through a ~N²/k-row join doubles
    // the bytes every pair copies (measured ~2× on the join phase)
    val a = assigned.select($"vec_id", $"v", $"nrm", $"cell").as("a")
    val b = assigned.select($"vec_id", $"v", $"nrm", $"cell").as("b")
    a.join(broadcast(allowedDf), $"a.cell" === $"ca")
      .join(b, $"b.cell" === $"cb" && $"a.vec_id" < $"b.vec_id")
      .withColumn("sim_r", round(vecDot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm"), 6))
      .filter($"sim_r" >= tau)
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"), $"sim_r".as("sim"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** The r1 all-pairs formulation — kept ONLY as the spec's ground-truth
    * baseline for embeddingNearDup's exactness assertion; never wired
    * into SparkEntry (it is the plan shape VERDICT r2 flagged). */
  private[graft] def embeddingNearDupAllPairs(s: SparkSession, dir: String,
      tau: Double = 0.35): DataFrame = {
    import s.implicits._
    val e = VectorOps.normed(s, dir)
    val a = e.as("a")
    val b = e.as("b")
    a.join(b, $"a.vec_id" < $"b.vec_id")
      .withColumn("sim_r", round(vecDot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm"), 6))
      .filter($"sim_r" >= tau)
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"), $"sim_r".as("sim"))
      .orderBy($"vec_a", $"vec_b")
  }

  // D5b — banded-LSH near-dup (the sub-quadratic 100 TB path for true
  // near-dup thresholds): candidate pairs share ≥1 exact LSH band
  // (VectorOps.bandSigs — b bands × r sign bits), then exact cosine
  // re-rank. Collision probability 1-(1-(1-θ/π)^r)^b: at cosine ≥0.95 a
  // pair is found with prob ~1-1e-4 while a random pair joins with ~6%
  // (b=16, r=8) — recall 1.0 on planted near-dups from a few % of the
  // pair space (asserted on a planted fixture in DedupSpec). On this
  // corpus's loose τ default the curve is flatter (no cosine gap exists),
  // so the queries entry runs b=16, r=6; rows-only by design — the
  // method is probabilistic, the exact twin above is the oracle-checked
  // definition.
  def embeddingNearDupLsh(s: SparkSession, dir: String, tau: Double = 0.35,
      bands: Int = 16, bitsPerBand: Int = 6): DataFrame =
    embeddingNearDupLshOn(VectorOps.normed(s, dir), tau, bands, bitsPerBand)

  /** LSH band-bucket candidate pairs for a normed frame (vec_id, u).
    * Exposed for the planted-fixture spec's candidate-fraction assertion. */
  private[graft] def lshPairCandidates(e: DataFrame, bands: Int, bitsPerBand: Int): DataFrame = {
    import e.sparkSession.implicits._
    val sigs = VectorOps.bandSigs(e.select($"vec_id", $"u"), bands, bitsPerBand)
      .select($"vec_id", $"k", $"bv")
    sigs.as("a")
      .join(sigs.as("b"),
        $"a.k" === $"b.k" && $"a.bv" === $"b.bv" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb"))
      .distinct()
  }

  /** D5b core on any normed frame (vec_id, v, nrm, u). */
  private[graft] def embeddingNearDupLshOn(e: DataFrame, tau: Double,
      bands: Int, bitsPerBand: Int): DataFrame = {
    import e.sparkSession.implicits._
    lshPairCandidates(e, bands, bitsPerBand)
      .join(e.select($"vec_id".as("va"), $"v".as("av"), $"nrm".as("an")), "va")
      .join(e.select($"vec_id".as("vb"), $"v".as("bv2"), $"nrm".as("bn")), "vb")
      .withColumn("sim_r", round(vecDot($"av", $"bv2") / ($"an" * $"bn"), 6))
      .filter($"sim_r" >= tau)
      .select($"va".as("vec_a"), $"vb".as("vec_b"), $"sim_r".as("sim"))
      .orderBy($"vec_a", $"vec_b")
  }

  // D11 — SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup.
  // k-means the embedding space, then look for τ-cosine duplicate groups
  // only WITHIN each cluster and keep, per group, the member farthest
  // from its centroid (lowest centroid cosine — the paper's
  // diversity-preserving choice). Deliberately NOT exact at corpus scope:
  // restricting the pair search to cells is the paper's cost model — the
  // pair join is quadratic in cell size, not corpus size, and nCells
  // scales with the corpus so cells stay bounded at 100 TB (D5 is the
  // exact-at-τ operator when completeness matters; this is the cheap
  // high-τ semantic prune). k-means-seeded ⇒ honestly rows-only in the
  // contract (like V4b/V10); the spec pins the semantics on a planted
  // fixture instead. τ default is calibrated to the synthetic corpus
  // (near-isotropic, max pairwise cosine ≈ 0.51 — real embedding spaces
  // run SemDeDup at 0.9+; the fixture spec uses 0.999 on planted clones).
  //
  // Two r8 scale fixes, both found by the sf10 probe (200k vectors,
  // fixed nCells=8: 434 s; √n-auto alone: 155 s; with collapse-first:
  // 14.7 s, and sf1→sf10 goes FLAT because cost tracks the rep count):
  //  1. nCells defaults to AUTO = max(8, ⌈√n⌉) over the frame the cells
  //     actually scope (reps on a clone-y corpus): a FIXED cell count
  //     makes cells grow linearly with the corpus and the in-cell pair
  //     join quadratic overall; √n balances the two costs (n·k centroid
  //     assignment vs Σ(n/k)² pair work) at O(n^1.5) total. The count is
  //     one bounded aggregate over the session-cached frame.
  //  2. collapse-first like the rest of the dedup family: bit-identical
  //     vectors share a cell and pair at sim 1.0 ≥ τ always, so the cell
  //     machinery runs on clone-group REPRESENTATIVES and labels expand
  //     back by one join — semantically undisturbed (clones inherit the
  //     rep's cell/group; the keeper is the kept rep itself, since reps
  //     are min-id and the flat ranking is (csim, doc_id) — specced),
  //     without the Σg² clone mass in the pair join.
  def semDedup(s: SparkSession, dir: String, tau: Double = 0.4,
      nCells: Int = 0, iters: Int = 2): DataFrame =
    semDedupOn(VectorOps.normed(s, dir), tau, nCells, iters, dir)

  /** D11 dispatcher over any normed frame (vec_id, v, nrm, u): flat on a
    * clone-free corpus, collapse-first otherwise. Output: one row per
    * vector — its cell, its duplicate group (min member id; own id if
    * unique in-cell), and whether it is the group's keeper. */
  private[graft] def semDedupOn(e: DataFrame, tau: Double, nCells: Int,
      iters: Int, keyPrefix: String): DataFrame = {
    import e.sparkSession.implicits._
    if (!hasExactVecClones(e, s"vclonechk:$keyPrefix"))
      return semDedupFlat(e, tau, nCells, iters, keyPrefix)
    // same cached frames D5's collapse-first path builds for this corpus
    val vgroups = Caches.cached(s"neardup-vgroups:$keyPrefix") {
      val gb = e.groupBy($"v").agg(min($"vec_id").as("rep"))
      e.select($"vec_id", $"v").join(gb, "v").select($"vec_id", $"rep")
    }
    val reps = Caches.cached(s"neardup-reps:$keyPrefix") {
      e.join(vgroups.filter($"vec_id" === $"rep").select($"vec_id"), "vec_id")
    }
    val repOut = semDedupFlat(reps, tau, nCells, iters, s"$keyPrefix#reps")
    // one label-expansion join: a clone sits exactly where its rep sits;
    // group_id stays the expanded group's min member because reps ARE the
    // min ids of their clone groups; the keeper is the kept rep itself
    // (ties in csim resolve to the smallest doc_id, which is a rep)
    vgroups.select($"vec_id", $"rep")
      .join(repOut.select($"vec_id".as("rep"), $"cell", $"group_id",
        $"kept".as("rep_kept")), "rep")
      .select($"vec_id", $"cell", $"group_id",
        ($"rep_kept" && $"vec_id" === $"rep").as("kept"))
      .orderBy($"vec_id")
  }

  /** D11 core (flat form). nCells ≤ 0 → auto √n. */
  private[graft] def semDedupFlat(e: DataFrame, tau: Double, nCells0: Int,
      iters: Int, keyPrefix: String): DataFrame = {
    import e.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val nCells = if (nCells0 > 0) nCells0
                 else math.max(8, math.ceil(math.sqrt(e.count().toDouble)).toInt)
    val cents = VecCluster.kmeans(e.select($"vec_id", $"u"), nCells, iters)
    if (cents.isEmpty)
      return e.select($"vec_id", lit(0).as("cell"), $"vec_id".as("group_id"),
        lit(true).as("kept")).limit(0)
    val assigned = Caches.cached(s"semdedup-assigned:$keyPrefix:$nCells:$iters") {
      e.select($"vec_id", $"v", $"nrm", VecCluster.cellOf($"u", cents).as("cell"),
        VecCluster.cellSimOf($"u", cents).as("csim"))
    }
    val a = assigned.select($"cell", $"vec_id".as("ida"), $"v".as("va"), $"nrm".as("na"))
    val b = assigned.select($"cell", $"vec_id".as("idb"), $"v".as("vb"), $"nrm".as("nb"))
    val pairs = a.join(b, Seq("cell")).filter($"ida" < $"idb")
      .withColumn("sim", round(vecDot($"va", $"vb") / ($"na" * $"nb"), 6))
      .filter($"sim" >= tau)
      .select($"ida".as("doc_a"), $"idb".as("doc_b"))
    // duplicate GROUPS need the transitive closure (pairwise dropping is
    // not transitive — the D7 argument); the pair graph is tiny at high τ
    val comps = dupClustersOf(assigned.select($"vec_id".as("doc_id")), pairs)
    comps.join(assigned.select($"vec_id".as("doc_id"), $"cell", $"csim"), "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"cluster_id").orderBy($"csim", $"doc_id")))
      .select($"doc_id".as("vec_id"), $"cell",
        $"cluster_id".as("group_id"), ($"rk" === 1).as("kept"))
      .orderBy($"vec_id")
  }
}
