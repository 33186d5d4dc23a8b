package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Semantic invariants per operator family (the DuckDB oracle checks
  * value-equality; these check meaning). */
class OperatorSpec extends SparkSpecBase {
  import org.apache.spark.sql.Row

  test("q1 pricing summary: one row per (returnflag, linestatus), positive sums") {
    val df = Relational.q1PricingSummary(spark, sfDir).cache()
    val n = df.count()
    assert(n == df.select("l_returnflag", "l_linestatus").distinct().count())
    assert(df.filter(col("sum_qty") <= 0 || col("sum_charge") <= 0).count() == 0)
  }

  test("check stock: single deterministic match at the strongest stage") {
    val rows = Relational.checkStock(spark, sfDir).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Int]("stage") == 2) // 'red bolt turbo' absent, 'red'+'bolt' present
  }

  test("check stock: the query is trimmed, and a blank query matches nothing") {
    def hit(q: String) = Relational.checkStock(spark, sfDir, q).collect().toSeq
    // a leading blank used to make "" the first word: tier 2 became
    // "contains red" and tier 3 matched every product
    assert(hit(" red bolt ") == hit("red bolt"))
    assert(hit(" red bolt ").map(_.getAs[Int]("stage")) == Seq(1))
    val swapped = hit("  bolt  red")
    assert(swapped.map(_.getAs[Int]("stage")) == Seq(2))
    val name = swapped.head.getAs[String]("p_name").toLowerCase
    assert(name.contains("bolt") && name.contains("red"), name)
    assert(hit("").isEmpty && hit("   ").isEmpty)
  }

  test("product and fuzzy search: mixed-case terms match like lower-case ones") {
    val search = Relational.productSearch(spark, sfDir, Seq("Red", "BOLT")).collect().toSeq
    assert(search.nonEmpty && search.head.getAs[Int]("score") == 2)
    assert(search == Relational.productSearch(spark, sfDir, Seq("red", "bolt")).collect().toSeq)
    val fuzzy = Relational.fuzzySearch(spark, sfDir, Seq("Bolte", "GIZMMO")).collect().toSeq
    assert(fuzzy.nonEmpty)
    assert(fuzzy == Relational.fuzzySearch(spark, sfDir, Seq("bolte", "gizmmo")).collect().toSeq)
  }

  test("product and fuzzy search: an empty term list returns no rows") {
    assert(Relational.productSearch(spark, sfDir, Seq()).collect().isEmpty)
    assert(Relational.fuzzySearch(spark, sfDir, Seq()).collect().isEmpty)
  }

  test("fuzzy search: a one-edit typo still finds the product") {
    // 'bolte' is one edit from 'bolt'; exact-token search returns nothing.
    val exact = Relational.productSearch(spark, sfDir, Seq("bolte")).count()
    assert(exact == 0)
    val rows = Relational.fuzzySearch(spark, sfDir, Seq("bolte"), maxDist = 2).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("p_name").toLowerCase.contains("bolt")))
    assert(rows.forall(_.getAs[Long]("terms_matched") == 1L))
    // ranking: matches desc, then total distance asc, then key
    val keyed = rows.map(r => (r.getAs[Long]("terms_matched"), r.getAs[Long]("total_dist"), r.getAs[Long]("p_partkey")))
    val sorted = keyed.sortBy { case (m, d, k) => (-m, d, k) }
    assert(keyed.toSeq == sorted.toSeq)
  }

  test("product bm25: rare-term match outranks common-term match where R2's heuristic ties them") {
    import spark.implicits._
    // 'red' appears in 3 names, 'bolt' in 1. R2's contains-count scores
    // every single-term match 1 and falls back to key order — product 1
    // first. Lucene-family BM25 weights the rarer term higher (idf), so
    // the bolt product must rank first despite its highest key.
    val parts = Seq(
      (1L, "red widget"), (2L, "red gear"), (3L, "red ring"), (4L, "blue bolt"))
      .toDF("p_partkey", "p_name")
    val bm = Relational.productBm25Of(parts, "red bolt", topK = 10).collect()
    assert(bm.length == 4)
    assert(bm.head.getAs[Long]("p_partkey") == 4L, s"bm25 head ${bm.head}")
    assert(bm.map(_.getAs[Double]("bm25")).toSeq == bm.map(_.getAs[Double]("bm25")).sorted.reverse.toSeq)
    // R2 heuristic on the same catalog: all four tie at score 1 → key order
    val heur = Seq((1L, "red widget"), (2L, "red gear"), (3L, "red ring"), (4L, "blue bolt"))
      .sortBy(_._1).head._1
    assert(heur == 1L && bm.head.getAs[Long]("p_partkey") != heur)
  }

  test("catalog keyset pagination: pages chain without overlap or gaps") {
    import spark.implicits._
    val page1 = Relational.catalogPage(spark, sfDir, afterKey = -1L)
      .select($"p_partkey").as[Long].collect()
    assert(page1.length == 10 && page1.sorted.sameElements(page1))
    val page2 = Relational.catalogPage(spark, sfDir, afterKey = page1.last)
      .select($"p_partkey").as[Long].collect()
    assert(page2.nonEmpty && page2.head > page1.last)
    // the two pages together equal the first 20 keys of a full scan
    val first20 = Tables.part(spark, sfDir).select($"p_partkey").as[Long]
      .collect().sorted.take(20)
    assert((page1 ++ page2).sameElements(first20))
  }

  test("top customers: revenue ordering is non-increasing") {
    val rev = Relational.topCustomers(spark, sfDir).select("revenue")
      .collect().map(_.getDouble(0))
    assert(rev.zip(rev.tail).forall { case (a, b) => a >= b })
  }

  test("exact dedup partitions the corpus: group sizes sum to row count") {
    val docs = Tables.documents(spark, sfDir).count()
    val total = Dedup.exactDedup(spark, sfDir).agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == docs)
  }

  test("minhash LSH finds every Jaccard>=0.5 pair (recall 1.0 on planted dups)") {
    val jacc = Dedup.ngramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashLsh(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jacc.nonEmpty)
    assert(jacc.subsetOf(mh), s"missed: ${jacc -- mh}")
  }

  test("source mix: per-source caps hold exactly and the kept set is deterministic") {
    val df = Sampling.sourceMix(spark, sfDir).cache()
    val kept = df.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val k = docs.select("source").distinct().count()
    val cap = math.ceil(0.6 * n / k).toLong
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every source keeps min(total, cap) — under-cap sources lose nothing
    totals.foreach { case (src, tot) =>
      assert(kept.getOrElse(src, 0L) == math.min(tot, cap), s"source $src") }
    // determinism: a second evaluation keeps the identical doc set
    val first = df.collect().map(_.toString).toSet
    val again = Sampling.sourceMix(spark, sfDir).collect().map(_.toString).toSet
    assert(first == again)
  }

  test("shuffle shards: exact-once coverage, dense per-shard positions, deterministic, order broken") {
    import spark.implicits._
    // cache released in the finally: the session is shared across suites,
    // and a live InMemoryRelation would substitute itself into
    // PlanInvariantSpec's p_shuffle_shards plan (doubling its exchanges)
    val df = Sampling.shuffleShards(spark, sfDir).cache()
    try {
    val n = Tables.documents(spark, sfDir).count()
    assert(df.count() == n)
    assert(df.select("doc_id").distinct().count() == n) // exact-once
    // pos is dense 0..cnt-1 within every shard (a loader can stream it)
    val bad = df.groupBy($"shard")
      .agg(count(lit(1)).as("cnt"), min($"pos").as("mn"), max($"pos").as("mx"))
      .filter($"mn" =!= 0L || $"mx" =!= $"cnt" - 1)
    assert(bad.isEmpty)
    // deterministic layout: a fresh plan reproduces it bit-for-bit
    val again = Sampling.shuffleShards(spark, sfDir).collect().map(_.toString)
    assert(df.orderBy($"shard", $"pos").collect().map(_.toString).sameElements(again))
    // it actually shuffles: within each shard the pos-ordered doc_id
    // sequence is not id-sorted (P(sorted by chance) ≈ 1/cnt!)
    val sortedShards = df.groupBy($"shard")
      .agg(collect_list(struct($"pos", $"doc_id")).as("l"))
      .select($"shard", expr("transform(array_sort(l), x -> x.doc_id)").as("ids"))
      .filter(expr("ids = array_sort(ids)"))
    assert(sortedShards.isEmpty)
    } finally df.unpersist(blocking = true)
  }

  test("dup spans: cross-doc shares, self-repeats, unique and short docs scored correctly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot"), // 2 grams, 1 shared with doc 2
      (2L, "alpha bravo charlie delta echo golf"),    // 2 grams, 1 shared with doc 1
      (3L, "nova orbit pulsar quasar rocket"),        // 1 gram, unique
      (4L, "two words"),                              // short: no grams
      (5L, "p q r s t p q r s t p q r s t")           // every position self-repeated
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpansOf(docs, 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup"), r.getAs[Double]("dup_frac"))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((1L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
    assert(got(5L) == ((11L, 11L, 1.0))) // self-repetition counts: the boilerplate signal
  }

  test("collapse-first clusters ≡ closure over expanded pairs on a clone-heavy corpus") {
    import spark.implicits._
    // clone-heavy (Σg² = 3·25+9 = 84 > 2n = 66) so the collapsed cluster
    // path engages; two near-dup rep groups that must MERGE via a rep
    // pair, one independent group, a sub-3-word clone group (no MinHash
    // signature -> every member stays its own singleton cluster, exactly
    // as the flat pair form leaves them), and true singletons
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val b = a + " kilo" // near-dup of a: shares band signatures
    val c = "nova orbit pulsar quasar rocket stellar titan umbra vortex warp"
    val tiny = "two words"
    val docs =
      (0L until 5L).map(i => (i, a)) ++ // group A, rep 0
      (10L until 15L).map(i => (i, b)) ++ // group B, rep 10 — merges with A
      (20L until 25L).map(i => (i, c)) ++ // group C, rep 20 — stays apart
      (30L until 33L).map(i => (i, tiny)) ++ // sub-3-word clones: singletons
      Seq((40L, "lone document number forty whatever else it says"))
    val dir = java.nio.file.Files.createTempDirectory("graft-clones").toString
    docs.map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val collapsed = Dedup.dupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flat = Dedup.dupClustersOf(
      Tables.documents(spark, dir).select($"doc_id"),
      Dedup.minhashLsh(spark, dir).select($"doc_a", $"doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collapsed == flat, s"collapsed $collapsed vs flat $flat")
    // the structural expectations, pinned explicitly
    assert(collapsed(14L) == 0L, "near-dup groups A+B must merge under rep 0")
    assert(collapsed(24L) == 20L, "group C clusters to its own rep")
    assert((30L until 33L).forall(i => collapsed(i) == i),
      "sub-3-word clones have no signature and must stay singletons")
    assert(collapsed(40L) == 40L)
    // the D4b (Jaccard) closure P1 consumes gets the same guarantee:
    // collapsed rep-graph components ≡ closure over the expanded pairs
    val ngramCollapsed = Dedup.ngramDupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ngramFlat = Dedup.dupClustersOf(
      Tables.documents(spark, dir).select($"doc_id"),
      Dedup.ngramJaccardLsh(spark, dir).select($"doc_a", $"doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ngramCollapsed == ngramFlat,
      s"ngram collapsed $ngramCollapsed vs flat $ngramFlat")
    Caches.clearAll()
  }

  test("DSIR sample: selection skews toward the target slice and is deterministic") {
    import spark.implicits._
    val out = Sampling.dsirSample(spark, sfDir).cache()
    assert(out.count() == 100)
    // the likelihood-ratio weight must pull the en (target) share of the
    // selected set above the corpus share — that's the whole point of
    // importance resampling toward a target distribution
    val docs = Tables.documents(spark, sfDir)
    val corpusEn = docs.filter($"lang" === "en").count().toDouble / docs.count()
    val sel = out.join(docs, "doc_id")
    val selEn = sel.filter($"lang" === "en").count().toDouble / sel.count()
    assert(selEn > corpusEn,
      f"selected en share $selEn%.3f not above corpus share $corpusEn%.3f")
    // en docs must carry higher mean importance than non-en docs
    val meanBy = sel.groupBy($"lang" === "en")
      .agg(avg($"logw")).collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    if (meanBy.size == 2) assert(meanBy(true) > meanBy(false))
    // deterministic draw: re-evaluation selects the identical set
    val again = Sampling.dsirSample(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(out.collect().map(_.getLong(0)).toSet == again)
    out.unpersist()
  }

  test("collapse-first Jaccard-LSH ≡ brute force on a clone-heavy corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
    def doc() = Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val bases = Vector.fill(10)(doc())
    val nears = bases.map { t => // one mid-word edit → Jaccard ≈ 0.87
      val w = t.split(" "); w(15) = "zulu"; w.mkString(" ")
    }
    val all0 = (bases ++ nears).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val clones = (0 until 5).flatMap(i => // clone groups of 4: Σg²=95 > 2n=70,
      Seq((1000L + i, bases(i)), (2000L + i, bases(i)), // so the clone-mass
        (3000L + i, bases(i)))) // gate must pick the collapsed path here
    val rows = all0 ++ clones
    val docs = rows.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardLshOn(docs, "clone-jacc-fix")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force with the same df-cap and rounding arithmetic
    val n = rows.size.toDouble
    val sets0 = rows.map { case (id, t) =>
      id -> t.toLowerCase.split(" ").sliding(2).map(_.mkString(" ")).toSet }
    val dfCount = sets0.flatMap(_._2.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val capped = sets0.map { case (id, ss) =>
      id -> ss.filter(sh => dfCount(sh) <= n * 0.2) }.toMap
    def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ids = rows.map(_._1).sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      sa = capped(a); sb = capped(b) if sa.nonEmpty && sb.nonEmpty
      ni = sa.intersect(sb).size
      jacc = r6(ni.toDouble / (sa.size + sb.size - ni)) if jacc >= 0.5
    } yield (a, b, jacc)).toSet
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // the clone cliques are present: (0,1000,1.0), (1000,2000,1.0), …
    assert(got.contains((0L, 1000L, 1.0)) && got.contains((1000L, 2000L, 1.0)))
  }

  private def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("quality tiers partition the corpus and are monotone in quality") {
    val rows = TextOps.qualityTiers(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    val byTier = rows.groupBy(_.getAs[Long]("tier")).view
      .mapValues(_.map(_.getAs[Double]("quality"))).toMap
    assert(byTier.keySet.subsetOf(Set(1L, 2L, 3L, 4L)) && byTier.size == 4)
    // every doc in a lower tier scores <= every doc in a higher tier
    (1L to 3L).foreach { t =>
      assert(byTier(t).max <= byTier(t + 1).min, s"tier $t overlaps ${t + 1}")
    }
    // quartile cuts: no tier grabs more than ~half the corpus (ties aside)
    byTier.values.foreach(v => assert(v.length > 0 && v.length < rows.length / 2 + 1))
  }

  test("tfidf keywords equal a brute-force corpus model") {
    import spark.implicits._
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val n = texts.length.toDouble
    val tfm = texts.map { case (id, t) =>
      id -> t.toLowerCase.split(" ").toSeq.groupBy(identity).view.mapValues(_.size).toMap
    }.toMap
    val dfm = tfm.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size).toMap
    val want = tfm.flatMap { case (id, tfs) =>
      tfs.toSeq
        .map { case (w, tf) => (id, w, tf.toLong, r6(tf * math.log10(n / dfm(w)))) }
        .sortBy { case (_, w, _, sc) => (-sc, w) }.take(3).zipWithIndex
        .map { case ((i, w, tf, sc), k) => (i, w, tf, sc, k + 1L) }
    }.toSet
    val got = TextOps.tfidfKeywords(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSet
    assert(got == want,
      s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("unigram logprob equals a brute-force corpus model; scores are negative") {
    import spark.implicits._
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val words = texts.map { case (id, t) => id -> t.toLowerCase.split(" ").toSeq }
    val cf = words.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tot = cf.values.sum.toDouble
    val want = words.map { case (id, ws) =>
      val terms = ws.groupBy(identity).map { case (w, occ) =>
        java.math.BigDecimal.valueOf(r6(occ.size * r6(math.log10(cf(w) / tot))))
          .setScale(6, java.math.RoundingMode.HALF_UP)
      }
      val sum = terms.reduce(_.add(_))
      (id, sum.doubleValue / ws.size, ws.size.toLong)
    }.toSet
    val got = TextOps.unigramLogprob(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == want,
      s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.forall(_._2 < 0.0), "a unigram logprob can never be non-negative")
  }

  test("bigram logprob equals a brute-force corpus model") {
    import spark.implicits._
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val docBigrams = texts.map { case (id, t) =>
      id -> t.toLowerCase.split(" ").toSeq.sliding(2).filter(_.size == 2)
        .map(p => (p.head, p.mkString(" "))).toSeq
    }
    val cf = docBigrams.flatMap(_._2.map(_._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = docBigrams.flatMap(_._2.map(_._1)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = docBigrams.filter(_._2.nonEmpty).map { case (id, bgs) =>
      val terms = bgs.groupBy(identity).map { case ((w1, s), occ) =>
        java.math.BigDecimal.valueOf(
          r6(occ.size * r6(math.log10(cf(s).toDouble / c1(w1)))))
          .setScale(6, java.math.RoundingMode.HALF_UP)
      }
      (id, terms.reduce(_.add(_)).doubleValue / bgs.size, bgs.size.toLong)
    }.toSet
    val got = TextOps.bigramLogprob(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == want,
      s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("more-like-this equals brute-force Jaccard ranking against the query doc") {
    import spark.implicits._
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val n = texts.length.toDouble
    val sets0 = texts.map { case (id, t) =>
      id -> t.toLowerCase.split(" ").sliding(2).map(_.mkString(" ")).toSet }
    val dfc = sets0.flatMap(_._2.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val capped = sets0.map { case (id, ss) =>
      id -> ss.filter(sh => dfc(sh) <= n * 0.2) }.toMap
    val q = capped(42L)
    val want = capped.toSeq
      .collect { case (id, ss) if id != 42L && ss.intersect(q).nonEmpty =>
        val ni = ss.intersect(q).size
        (id, ni.toLong, r6(ni.toDouble / (ss.size + q.size - ni)))
      }
      .sortBy { case (id, _, j) => (-j, id) }.take(10)
    val got = TextOps.moreLikeThis(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("unigram score ignores word order; bigram score punishes it") {
    // planted corpus: doc 0 alternates "a b" (natural order), doc 1 is the
    // same multiset re-ordered into runs ("a a … b b"); background docs
    // make "a b" the dominant corpus bigram. Same words ⇒ identical
    // unigram score; broken order ⇒ strictly worse bigram score.
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    import spark.implicits._
    val natural = Seq.fill(10)("a b").mkString(" ")
    val scrambled = (Seq.fill(10)("a") ++ Seq.fill(10)("b")).mkString(" ")
    val docs = Seq(
      (0L, natural, "en", "src0", natural.length.toLong),
      (1L, scrambled, "en", "src0", scrambled.length.toLong),
      (2L, natural, "en", "src1", natural.length.toLong),
      (3L, natural, "en", "src1", natural.length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val uni = TextOps.unigramLogprob(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(uni(0L) == uni(1L), s"unigram must ignore order: ${uni(0L)} vs ${uni(1L)}")
    val bi = TextOps.bigramLogprob(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bi(1L) < bi(0L), s"scrambled doc must score worse: ${bi(1L)} vs ${bi(0L)}")
    Caches.clearAll()
  }

  test("cross dedup equals the full Jaccard relation restricted to new×old") {
    val full = Dedup.ngramJaccard(spark, sfDir).collect()
    val want = full.flatMap { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      Seq((a, b), (b, a)).collect {
        case (n, o) if n % 10 == 7 && o % 10 != 7 => (n, o, j)
      }
    }.toSet
    val got = Dedup.crossDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.forall { case (n, o, _) => n % 10 == 7 && o % 10 != 7 })
  }

  test("collapse-first cross-dedup ≡ brute force on a clone-heavy corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
    def doc() = Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val bases = Vector.fill(10)(doc())
    val nears = bases.map { t =>
      val w = t.split(" "); w(15) = "zulu"; w.mkString(" ")
    }
    // ids straddle the %10==7 split on both sides of each clone group
    val all0 = (bases ++ nears).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val clones = (0 until 5).flatMap(i =>
      Seq((1007L + 10 * i, bases(i)), (2000L + 10 * i, bases(i)),
        (3007L + 10 * i, bases(i))))
    val rows = all0 ++ clones // Σg² = 95 > 2n = 70 → collapsed path
    val got = Dedup.crossDedupOn(rows.toDF("doc_id", "text"), "clone-cross-fix")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val n = rows.size.toDouble
    val sets0 = rows.map { case (id, t) =>
      id -> t.toLowerCase.split(" ").sliding(2).map(_.mkString(" ")).toSet }
    val dfc = sets0.flatMap(_._2.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val capped = sets0.map { case (id, ss) =>
      id -> ss.filter(sh => dfc(sh) <= n * 0.2) }.toMap
    val ids = rows.map(_._1)
    val want = (for {
      a <- ids if a % 10 == 7; b <- ids if b % 10 != 7
      sa = capped(a); sb = capped(b) if sa.nonEmpty && sb.nonEmpty
      ni = sa.intersect(sb).size
      jacc = r6(ni.toDouble / (sa.size + sb.size - ni)) if jacc >= 0.5
    } yield (a, b, jacc)).toSet
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(got.exists(_._3 == 1.0), "clone cross pairs must surface at jacc 1.0")
  }

  test("semantic decontamination agrees with the all-pairs cosine relation") {
    // independent derivation: take the exact all-pairs τ-relation and fold
    // it to per-train-vector (hits, max sim) over eval-side partners
    val ap = Dedup.embeddingNearDupAllPairs(spark, sfDir, tau = 0.35).collect()
    val hits = ap.flatMap { r =>
      val (a, b, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      Seq((a, b), (b, a)).collect {
        case (t, e) if t % 10 != 0 && e % 10 == 0 => (t, sim)
      }
    }
    val want = hits.groupBy(_._1).map { case (t, xs) =>
      (t, xs.length.toLong, xs.map(_._2).max) }.toSet
    val got = Dedup.decontaminateSemantic(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.forall(_._1 % 10 != 0), "eval vectors must never be flagged")
  }

  test("simhash near-dup pairs have symmetric, bounded hamming") {
    val rows = Dedup.simhash(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("hamming") <= 8)) // 64-bit fp, 12.5% radius
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  test("label centroids: one row per (label, dim), means inside component bounds") {
    import spark.implicits._
    val rows = VectorOps.labelCentroids(spark, sfDir).collect()
    val nVecs = Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n")).sum == 64 * nVecs) // every component counted once
    val bounds = Tables.embeddings(spark, sfDir)
      .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"label", $"dim")
      .agg(min($"x").as("lo"), max($"x").as("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getFloat(2), r.getFloat(3))).toMap
    rows.foreach { r =>
      val (lo, hi) = bounds((r.getInt(0), r.getLong(1).toInt))
      val m = r.getAs[Double]("mean")
      assert(m >= lo - 1e-6 && m <= hi + 1e-6,
        s"label ${r.getInt(0)} dim ${r.getLong(1)}: mean $m outside [$lo, $hi]")
    }
  }

  test("cosine topk: sims within [-1,1], descending, k rows") {
    val rows = VectorOps.cosineTopK(spark, sfDir).collect()
    assert(rows.length == 5)
    val sims = rows.map(_.getAs[Double]("sim"))
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("sequence packing: bins respect the budget, docs conserved, bin ids contiguous") {
    import org.apache.spark.sql.Row
    val rows = operators.Packing.packTokens(spark, sfDir, budget = 200L).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    val byBin = rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[Int]("shard"), r.getAs[Long]("bin_id")))
    byBin.foreach { case (k, ds) =>
      val total = ds.map(_.getAs[Long]("tokens")).sum
      assert(total <= 200L || ds.length == 1, s"$k over budget with ${ds.length} docs")
    }
    rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[Int]("shard"))).foreach { case (k, ds) =>
      val bins = ds.map(_.getAs[Long]("bin_id")).distinct.sorted
      assert(bins.toSeq == (1L to bins.length).toSeq, s"$k bins not contiguous: ${bins.toSeq}")
    }
  }

  test("approx distinct: HLL++ estimate within 5x the configured rsd of exact") {
    val rows = Relational.approxDistinct(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("rel_err") <= 0.10, // rsd 0.02, generous 5σ bound
        s"${r.getString(0)}: rel_err ${r.getAs[Double]("rel_err")}")
    }
  }

  test("approx percentiles: sketch median within 1% of exact") {
    val rows = Relational.approxPercentiles(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("p50_rel_err") <= 0.01,
      s"${r.getString(0)}: p50 rel err ${r.getAs[Double]("p50_rel_err")}"))
  }

  test("shortest paths: landmarks are at distance 0 from themselves") {
    val df = GraphOps.shortestPaths(spark, sfDir)
    val self = df.filter(col("part") === col("landmark"))
    assert(self.count() == 3)
    assert(self.filter(col("hops") =!= 0).count() == 0)
    assert(df.filter(col("hops") < 0).count() == 0)
  }

  test("chunking covers every document: chunks reassemble to the original") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val chunks = VectorOps.chunkText(spark, sfDir)
      .select($"doc_id", $"chunk_id", $"chunk_text")
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3))
    chunks.foreach { case (id, cs) =>
      // stride 150, window 200: drop the 50-char overlap from every chunk
      // after the first to reconstruct the source text
      val rebuilt = cs.head + cs.tail.map(c => c.drop(50)).mkString
      assert(rebuilt == docs(id), s"doc $id")
    }
  }

  test("recursive chunking: no chunk splits a word, every word is covered") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val chunks = VectorOps.chunkRecursive(spark, sfDir)
      .select($"doc_id", $"chunk_id", $"chunk_text")
      .as[(Long, Long, String)].collect()
    assert(chunks.nonEmpty)
    val words = docs.view.mapValues(_.split(" ").toSet).toMap
    chunks.foreach { case (id, cid, c) =>
      // word-boundary snapping: every chunk is a whole-word substring —
      // each of its space-split tokens is a word of the source document
      assert(c.split(" ").forall(words(id).contains),
        s"doc $id chunk $cid splits a word: '$c'")
      assert(docs(id).contains(c), s"doc $id chunk $cid not a substring")
    }
    // coverage: the union of chunk words reconstructs every document word
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val covered = cs.flatMap(_._3.split(" ")).toSet
      assert(words(id).subsetOf(covered), s"doc $id lost words")
    }
    // overlap semantics: consecutive chunks overlap (or abut) — no gaps
    val byDoc = chunks.groupBy(_._1)
    byDoc.foreach { case (id, cs) =>
      val texts = cs.sortBy(_._2).map(_._3)
      texts.zip(texts.tail).foreach { case (a, b) =>
        val aEnd = docs(id).indexOf(a) + a.length
        val bStart = docs(id).indexOf(b)
        assert(bStart <= aEnd + 1, s"doc $id gap between chunks")
      }
    }
  }

  test("co-purchase graph: degree sums to 2x edge count; canonical edges") {
    val edges = GraphOps.copurchaseEdges(spark, sfDir).cache()
    val degSum = GraphOps.degree(spark, sfDir).agg(sum("degree")).collect()(0).getLong(0)
    assert(degSum == 2 * edges.count())
    assert(edges.filter(col("src") >= col("dst")).count() == 0)
  }

  test("connected components cover every part that has an edge") {
    val nodes = GraphOps.degree(spark, sfDir).count()
    val covered = GraphOps.connectedComponents(spark, sfDir)
      .agg(sum("size")).collect()(0).getLong(0)
    assert(covered == nodes)
  }

  test("value anomaly flags equal a causal per-user replay") {
    import spark.implicits._
    val evs = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts", $"value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    def d6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP) // DECIMAL(18,6) cast
    val want = evs.groupBy(_._2).values.flatMap { rows =>
      val ordered = rows.sortBy(r => (r._3.getTime, r._1))
      ordered.zipWithIndex.collect { case ((id, u, _, v), i) if i >= 3 =>
        val win = ordered.slice(math.max(0, i - 10), i).map(r => d6(r._4))
        val n = win.length
        val sum = win.reduce(_.add(_)).doubleValue
        val sumsq = win.map(x => x.multiply(x)).reduce(_.add(_)).doubleValue
        val mean = sum / n
        val varr = math.max(0.0, (sumsq - sum * sum / n) / (n - 1))
        (id, u, v, math.abs(v - mean) > 3.0 * math.sqrt(varr))
      }
    }.toSet
    val got = streaming.EventOps.valueAnomalyQuery(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(5))).toSet
    assert(got == want,
      s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // the corpus actually exercises both branches
    assert(got.exists(_._4) && got.exists(!_._4))
  }

  test("funnel stages partition the user base") {
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    val staged = streaming.EventOps.funnelQuery(spark, sfDir)
      .agg(sum("n_users")).collect()(0).getLong(0)
    assert(staged == users)
  }

  test("sessionize: gaps inside a session never exceed the threshold") {
    import spark.implicits._
    // max(sess_end - sess_start) must be < n_events * gap
    val bad = streaming.EventOps.sessionizeQuery(spark, sfDir)
      .withColumn("span_us", unix_micros($"sess_end") - unix_micros($"sess_start"))
      .filter($"span_us" > ($"n_events" - 1) * 1800L * 1000000L)
      .count()
    assert(bad == 0)
  }

  test("resize plan: shorter side lands exactly on target, crop box fits") {
    val rows = Multimodal.resizePlan(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h) = (r.getAs[Long]("width"), r.getAs[Long]("height"))
      val (rw, rh) = (r.getAs[Long]("rw"), r.getAs[Long]("rh"))
      assert(math.min(rw, rh) == 224, s"doc ${r.getLong(0)}: shorter side ${math.min(rw, rh)}")
      assert((w <= h) == (rw <= rh), s"doc ${r.getLong(0)}: aspect order flipped")
      assert(r.getAs[Long]("crop_x") + 224 <= rw && r.getAs[Long]("crop_y") + 224 <= rh,
        s"doc ${r.getLong(0)}: crop escapes the resized frame")
    }
  }

  test("frame sampling: <=4 frames per doc, offsets stride 100") {
    val rows = Multimodal.frameSample(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.values.forall(_.length <= 4))
    assert(rows.forall(r => r.getAs[Int]("offset") == r.getAs[Int]("frame_idx") * 100))
  }

  test("hybrid search: fused scores equal a brute-force RRF recompute of the two legs") {
    val legK = 20
    val lex = TextOps.moreLikeThis(spark, sfDir, 42L, legK).collect()
      .map(_.getAs[Long]("doc_id")).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val vec = VectorOps.cosineTopK(spark, sfDir, 42L, legK).collect()
      .map(_.getAs[Long]("vec_id")).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    def term(r: Option[Long]): BigDecimal = r.fold(BigDecimal(0))(rk =>
      BigDecimal(1.0 / (60 + rk)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
    val expected = (lex.keySet ++ vec.keySet).toSeq
      .map(id => (id, (term(lex.get(id)) + term(vec.get(id))).toDouble))
      .sortBy { case (id, s) => (-s, id) }
      .take(10)
    val got = VectorOps.hybridSearch(spark, sfDir, 42L, legK, 10).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("rrf")))
    assert(got.toSeq == expected, s"got ${got.toSeq} expected $expected")
    // a doc in both legs must out-rank a doc with only one (equal-rank) leg
    val both = got.filter { case (id, _) => lex.contains(id) && vec.contains(id) }
    assert(both.nonEmpty, "fixture corpus should fuse at least one doc from both legs")
  }
}
