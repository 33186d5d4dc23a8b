package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.operators.{Dedup, GraphOps, Multimodal, TextOps, VectorOps}

/** Degenerate-input behavior: a library operator on an empty or
  * single-row corpus must return an empty/trivial relation, never throw
  * (an empty partition or freshly-truncated table is normal at 100 TB). */
class EdgeCaseSpec extends SparkSpecBase {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(java.util.List.of[Row](), docSchema)
      .write.parquet(s"$dir/documents.parquet")
    spark.createDataFrame(java.util.List.of[Row](), embSchema)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val oneRowDir: String = {
    val dir = Files.createTempDirectory("graft-one").toString
    import spark.implicits._
    Seq((0L, "just one document here", "en", "unit", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq((0L, Array.fill(8)(0.5f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("text + dedup operators return empty relations on an empty corpus") {
    assert(TextOps.langId(spark, emptyDir).count() == 0)
    assert(TextOps.tokenCount(spark, emptyDir).count() == 0)
    assert(Dedup.exactDedup(spark, emptyDir).count() == 0)
    assert(Dedup.minhashLsh(spark, emptyDir).count() == 0)
    assert(Dedup.simhash(spark, emptyDir).count() == 0)
    assert(Dedup.ngramJaccard(spark, emptyDir).count() == 0)
    assert(Dedup.ngramJaccardLsh(spark, emptyDir).count() == 0)
    Caches.clearAll()
  }

  test("vector operators return empty relations on an empty corpus") {
    assert(VectorOps.cosineTopK(spark, emptyDir).count() == 0)
    assert(VectorOps.lshAnn(spark, emptyDir).count() == 0)
    assert(VectorOps.quantizeInt8(spark, emptyDir).count() == 0)
    assert(Dedup.embeddingNearDup(spark, emptyDir).count() == 0)
    assert(Dedup.embeddingNearDupLsh(spark, emptyDir).count() == 0)
    assert(VectorOps.ivfAnn(spark, emptyDir).count() == 0)
    Caches.clearAll()
  }

  test("pair operators yield no pairs on a single-document corpus") {
    assert(Dedup.minhashLsh(spark, oneRowDir).count() == 0)
    assert(Dedup.ngramJaccard(spark, oneRowDir).count() == 0)
    assert(Dedup.embeddingNearDup(spark, oneRowDir).count() == 0)
    assert(Dedup.exactDedup(spark, oneRowDir).count() == 1)
    // top-k against the only vector: nothing else to rank
    assert(VectorOps.cosineTopK(spark, oneRowDir).count() == 0)
    Caches.clearAll()
  }

  test("r6b operators behave on empty and single-row corpora") {
    assert(TextOps.tfidfKeywords(spark, emptyDir).count() == 0)
    assert(TextOps.unigramLogprob(spark, emptyDir).count() == 0)
    assert(TextOps.bigramLogprob(spark, emptyDir).count() == 0)
    assert(TextOps.moreLikeThis(spark, emptyDir).count() == 0)
    assert(TextOps.qualityTiers(spark, emptyDir).count() == 0)
    assert(Dedup.decontaminateSemantic(spark, emptyDir).count() == 0)
    assert(VectorOps.labelCentroids(spark, emptyDir).count() == 0)
    assert(Multimodal.resizePlan(spark, emptyDir).count() == 0)
    Caches.clearAll()
    // one doc: tfidf still emits its top-3, logprob scores deterministically
    // (every word has cf == total → unigram lp == log10(1/1) per distinct
    // word only if the doc repeats nothing — just pin row counts + tiers)
    assert(TextOps.tfidfKeywords(spark, oneRowDir).count() == 3)
    assert(TextOps.unigramLogprob(spark, oneRowDir).count() == 1)
    assert(TextOps.bigramLogprob(spark, oneRowDir).count() == 1)
    // query doc 42 does not exist → nothing to match
    assert(TextOps.moreLikeThis(spark, oneRowDir).count() == 0)
    val tiers = TextOps.qualityTiers(spark, oneRowDir).collect()
    assert(tiers.length == 1 && tiers(0).getAs[Long]("tier") == 1L) // its own quartile
    // the lone vector IS the eval slice (vec_id 0) → empty train side
    assert(Dedup.decontaminateSemantic(spark, oneRowDir).count() == 0)
    assert(VectorOps.labelCentroids(spark, oneRowDir).count() == 8) // 1 label × 8 dims
    Caches.clearAll()
  }

  test("r7 operators behave on empty and single-row corpora") {
    import graft.pipeline.CorpusPipeline
    import graft.operators.Sampling
    assert(CorpusPipeline.splitLeakproof(spark, emptyDir).count() == 0)
    assert(Sampling.dsirSample(spark, emptyDir).count() == 0)
    assert(Dedup.dupClusters(spark, emptyDir).count() == 0)
    // empty rollup: engines agree there are zero groups (no ALL row from
    // a zero-row scan would differ from DuckDB's — pin the count)
    assert(CorpusPipeline.dataCard(spark, emptyDir).count() <= 1)
    assert(GraphOps.triangleCountDF(
      spark.emptyDataFrame.selectExpr("1L as src", "2L as dst").limit(0)).count() == 0)
    Caches.clearAll()
    // one doc: its own cluster, its own split; one source row + ALL row
    val split = CorpusPipeline.splitLeakproof(spark, oneRowDir).collect()
    assert(split.length == 1 && split(0).getLong(1) == 0L)
    assert(Sampling.dsirSample(spark, oneRowDir).count() == 1)
    val card = CorpusPipeline.dataCard(spark, oneRowDir).collect()
    assert(card.length == 2 && card.map(_.getString(0)).contains("ALL"))
    Caches.clearAll()
  }

  test("graph operators behave on an edgeless and single-edge graph") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "weight")
    assert(GraphOps.nodeSimilarityOf(none, k = 10).count() == 0)
    assert(GraphOps.nodeSimilarityLshOf(none, k = 10).count() == 0)
    val one = Seq((1L, 2L, 1L)).toDF("src", "dst", "weight")
    // two nodes, one edge: no pair shares a neighbor
    assert(GraphOps.nodeSimilarityOf(one, k = 10).count() == 0)
    assert(GraphOps.nodeSimilarityLshOf(one, k = 10).count() == 0)
    Caches.clearAll()
  }

  test("r4 operators behave on empty and single-row corpora") {
    assert(Dedup.decontaminate(spark, emptyDir).count() == 0)
    assert(TextOps.repetition(spark, emptyDir).count() == 0)
    assert(TextOps.piiRedact(spark, emptyDir).count() == 0)
    assert(TextOps.vocab(spark, emptyDir).count() == 0)
    assert(VectorOps.maxSim(spark, emptyDir).count() == 0)
    assert(VectorOps.mmrRerank(spark, emptyDir).count() == 0)
    assert(TextOps.bm25(spark, emptyDir).count() == 0)
    assert(Dedup.dupClusters(spark, emptyDir).count() == 0)
    Caches.clearAll()
    // one doc: no train/bench overlap possible (doc 0 IS the bench slice);
    // repetition/vocab still produce their one-row stats
    assert(Dedup.decontaminate(spark, oneRowDir).count() == 0)
    assert(TextOps.repetition(spark, oneRowDir).count() == 1)
    assert(TextOps.vocab(spark, oneRowDir).count() == 4) // 4 distinct words
    // the single vector is the query itself: nothing to rank
    assert(VectorOps.mmrRerank(spark, oneRowDir).count() == 0)
    // the lone doc is its own cluster
    val c = Dedup.dupClusters(spark, oneRowDir).collect()
    assert(c.length == 1 && c(0).getLong(0) == c(0).getLong(1))
    Caches.clearAll()
  }

  test("r8 operators behave on empty and degenerate inputs") {
    val s = spark
    import s.implicits._
    // PPR without any in-graph seed: empty relation, not an exception
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    assert(GraphOps.pprOf(edges, Seq(99L).toDF("pk"), 3).count() == 0)
    assert(GraphOps.pprOf(edges.limit(0), Seq(1L).toDF("pk"), 3).count() == 0)
    // walks on an empty edge frame: no rows
    assert(GraphOps.randomWalksOf(edges.limit(0), 2, 3).count() == 0)
    // r9: centralities on empty and single-edge graphs (closenessOf
    // rides the G8 gate into graphOf, which reads the canonical
    // 3-column (src, dst, weight) frame)
    val wedges = Seq((1L, 2L, 1L)).toDF("src", "dst", "weight")
    assert(GraphOps.betweennessOf(wedges.limit(0), 3, 8).count() == 0)
    assert(GraphOps.closenessOf(wedges.limit(0), 3).count() == 0)
    // single edge: no node sits BETWEEN any pair; closeness is 1/1 both ways
    val bc1 = GraphOps.betweennessOf(wedges, 3, 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc1.values.forall(_ == 0.0), s"got $bc1")
    val cl1 = GraphOps.closenessOf(wedges, 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(cl1 == Map(1L -> 1.0, 2L -> 1.0), s"got $cl1")
    // HITS on an empty arc frame: no rows
    assert(GraphOps.hitsOf(Seq((1L, 2L)).toDF("u", "p").limit(0), 2).count() == 0)
    // bloom + phash + ivfpq over the empty corpus dirs
    assert(Dedup.decontaminateBloom(spark, emptyDir).count() == 0)
    assert(Multimodal.phashDedup(spark, emptyDir).count() == 0)
    assert(VectorOps.ivfpqAnn(spark, emptyDir).count() == 0)
    // expectations on an empty frame: defined report, row_count fails
    val qc = graft.pipeline.CorpusPipeline.qualityChecksOn(
      Tables.documents(spark, emptyDir)).collect()
    assert(qc.length == 6)
    val rc = qc.find(_.getString(0) == "row_count").get
    assert(rc.getDouble(1) == 0.0 && !rc.getBoolean(3))
    Caches.clearAll()
  }
}
