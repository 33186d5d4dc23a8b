package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.GraftCheckpoint
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.Param

/** Relational query surface of the reference (PostgreSQL CRUD + agent tools:
  * reference backend/src/api/services/db_service.py, tools.py, routers).
  *
  * Design notes (100 TB):
  *  - Money/quantity aggregates are computed over DECIMAL(18,6) and only the
  *    final result is cast to double: decimal sums are exact and therefore
  *    independent of partitioning/combine order — the same answer on 1
  *    thread or 1000 executors (and bit-equal to the DuckDB oracle).
  *  - Dimension tables (part, customer, nation, region, supplier) are
  *    broadcast; only fact-fact joins shuffle.
  *  - Top-k uses orderBy().limit(k) so Spark plans TakeOrderedAndProject
  *    (per-partition heaps, no global sort).
  */
object Relational {

  /** Exact, order-independent sum of a double expression: cast each value to
    * DECIMAL(18,6) (deterministic, ties unrepresentable in binary doubles),
    * sum exactly, surface as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** avg as round(exact_sum / count, 4): deterministic on both engines. */
  def davg(sumCol: Column, cntCol: Column): Column =
    round(sumCol / cntCol.cast("double"), 4)

  // R1 — pricing summary (TPC-H Q1 shape): the baseline scan+aggregate.
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", davg($"sum_qty", $"count_order"))
      .withColumn("avg_price", davg($"sum_base_price", $"count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  // R2 — fuzzy full-text product search with a relevance score
  // (reference neo4j_service.py:76 fulltext queryNodes + tools.py search):
  // the score is how many of the (lower-cased) terms the name contains.
  // The terms are one array literal, a reference in generated code, so
  // term lists of every length share one compiled class; an empty list
  // scores every row 0 and returns no rows.
  def productSearch(s: SparkSession, dir: String, terms: Seq[String] = Seq("red", "bolt")): DataFrame = {
    import s.implicits._
    val nm = lower($"p_name")
    Tables.part(s, dir)
      .withColumn("score", size(filter(typedLit(terms.map(_.toLowerCase)), nm.contains(_))))
      .filter($"score" >= 1)
      .select($"p_partkey", $"p_name", $"p_retailprice", $"score")
      .orderBy($"score".desc, $"p_partkey")
      .limit(10)
  }

  // R2b — typo-tolerant (fuzzy) product search. The reference's #1 query
  // shape is `CALL db.index.fulltext.queryNodes("product_name_index",
  // "term~")` (neo4j_service.py:71): the `~` is Lucene fuzzy matching, so
  // a one-edit typo ("bolte") still finds the product ("bolt"). Per query
  // term, the least edit distance over the name's tokens; a term matches
  // at distance ≤ maxDist; rank by terms matched desc, then total distance
  // asc. Each row is scored alone — one scan stage, no exchange, and the
  // top-k is TakeOrderedAndProject. That equals scoring per product
  // because p_partkey is the catalog key (mergeInto keeps it unique). The
  // terms are one array literal, as in R2.
  def fuzzySearch(s: SparkSession, dir: String,
      terms: Seq[String] = Seq("bolte", "gizmmo"), maxDist: Int = 2): DataFrame = {
    import s.implicits._
    val toks = filter(split(lower($"p_name"), "[^a-z]+"), _ =!= "")
    val dists = transform(typedLit(terms.map(_.toLowerCase)),
      t => array_min(transform(toks, levenshtein(_, t))))
    val hits = filter($"dists", _ <= maxDist)
    Tables.part(s, dir)
      .select($"p_partkey", $"p_name", $"p_retailprice", dists.as("dists"))
      .select($"p_partkey", $"p_name", $"p_retailprice",
        size(hits).cast("long").as("terms_matched"),
        aggregate(hits, lit(0), _ + _).cast("long").as("total_dist"))
      .filter($"terms_matched" >= 1)
      .orderBy($"terms_matched".desc, $"total_dist".asc, $"p_partkey")
      .limit(10)
  }

  // R2c — BM25-scored product fulltext (neo4j_service.py:71-79: the
  // fulltext index's queryNodes returns Lucene relevance scores — a
  // BM25-family model, not R2's contains-count heuristic). T9's Okapi
  // scorer (TextOps.bm25) composed over p_name tokens: idf weights rare
  // terms higher, so a product matching a rare term outranks one matching
  // a ubiquitous term where R2 ties them (spec-pinned divergence). Same
  // shapes and float-parity discipline as T9: doc-keyed tf aggregation,
  // tiny df/corpus-stat broadcasts, TakeOrdered ranking, 6dp-rounded
  // term scores summed as DECIMAL.
  def productBm25(s: SparkSession, dir: String,
      query: String = "red bolt", topK: Int = 10): DataFrame =
    productBm25Of(Tables.part(s, dir), query, topK)

  /** R2c core over an arbitrary (p_partkey, p_name) frame (fixture-testable). */
  private[graft] def productBm25Of(parts: DataFrame, query: String,
      topK: Int): DataFrame = {
    val s = parts.sparkSession
    import s.implicits._
    val terms = query.toLowerCase.split(" ").toSeq.distinct
    val docs = parts
      .select($"p_partkey", $"p_name", split(lower($"p_name"), " ").as("w"))
      .withColumn("dl", size($"w").cast("double"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(size($"w")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs.select($"p_partkey", $"p_name", $"dl", explode($"w").as("wrd"))
      .filter($"wrd".isInCollection(terms))
      .groupBy($"p_partkey", $"p_name", $"dl", $"wrd")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfx = tf.groupBy($"wrd").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfx), "wrd")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", round(
        log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
          * ($"tf" * 2.2)
          / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")), 6))
      .groupBy($"p_partkey", $"p_name")
      .agg(
        round(sum($"term_score".cast("decimal(18,6)")).cast("double"), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy($"bm25".desc, $"p_partkey")
      .limit(topK)
  }

  // R3 — category containment search (neo4j_service.py:77: Category name
  // CONTAINS keyword → products). Category dimension here is p_type.
  def categorySearch(s: SparkSession, dir: String, keyword: String = "small"): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter(lower($"p_type").contains(keyword))
      .select($"p_partkey", $"p_name", $"p_type", $"p_retailprice")
      .orderBy($"p_partkey")
  }

  // R4 — broad listing (neo4j_service.py:79: MATCH (p:Product) ... LIMIT 10).
  def broadSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey", $"p_name", $"p_retailprice")
      .orderBy($"p_partkey")
      .limit(10)
  }

  // R4b — keyset-paginated catalog listing (db_service.py:79
  // get_all_products / admin paged listings). Keyset (seek) pagination,
  // not OFFSET: the seek predicate pushes to the parquet scan and the
  // page is a TakeOrderedAndProject, so page N costs the same as page 1 —
  // OFFSET at 100 TB scans and discards N·pageSize rows, a seek scans
  // one page regardless of depth.
  def catalogPage(s: SparkSession, dir: String,
      afterKey: Long = 100L, pageSize: Int = 10): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter($"p_partkey" > afterKey)
      .select($"p_partkey", $"p_name", $"p_retailprice")
      .orderBy($"p_partkey")
      .limit(pageSize)
  }

  // R4d — point product read by SKU (routers/admin.py:218
  // get_product_by_sku; db_service.py:84: filter(sku ==).first()). A
  // single-key dimension lookup: the equality predicate pushes to the
  // parquet scan (PushedFilters), so with key-sorted/partitioned files the
  // read min-max-prunes to one row group — a point read, not a table scan.
  def productBySku(s: SparkSession, dir: String, sku: Long = 42L): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter($"p_partkey" === Param(sku))
      .select($"p_partkey", $"p_name", $"p_brand", $"p_type", $"p_size",
        $"p_retailprice")
  }

  // R4e — admin customer listing (routers/admin.py:291 get_all_customers;
  // db_service.py:181: ORDER BY created_at DESC). The customer dim carries
  // no timestamp; newest-first = highest key first (keys are assigned in
  // insert order). Distributed range sort over the dimension — Spark
  // samples split points, so no single-partition stage (the R4c argument).
  def customerList(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", $"c_mktsegment", $"c_acctbal")
      .orderBy($"c_custkey".desc)
  }

  // R4c — order-form product dropdown (neo4j_products.py:37: MATCH
  // (p:Product)-[:IN_CATEGORY]->(c:Category) RETURN sku, name, price,
  // category ORDER BY c.name, p.name — the full catalog with its
  // category, category-then-name ordered). A full ordered catalog dump:
  // the catalog is a dimension, and the two-column sort is a distributed
  // range sort (Spark samples split points), so the listing scales with
  // the catalog without any single-partition stage.
  def orderFormProducts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey".as("sku"), $"p_name".as("name"),
        $"p_retailprice".as("price"), $"p_type".as("category"))
      .orderBy($"category", $"name", $"sku")
  }

  /** R5 — stock lookup with cascading fuzzy fallback (tools.py:37-92):
    * tier 1 = the name contains the whole (trimmed, lower-cased) phrase,
    * tier 2 = it contains the first two words, tier 3 = the first word.
    * Returns the lowest key within the strongest tier present anywhere in
    * the catalog, as ONE scan: `orderBy(stage, p_partkey).limit(1)` is a
    * TakeOrderedAndProject, so the global min tier needs no aggregate and
    * no broadcast join back. The first two words are one array literal
    * (tier 2 holds when the name contains each), so phrases of any word
    * count share one compiled class; for one word, tier 2 is tier 1. A
    * blank query matches nothing. */
  def checkStock(s: SparkSession, dir: String, query: String = "red bolt turbo"): DataFrame = {
    import s.implicits._
    val phrase = query.trim.toLowerCase
    val words = phrase.split("\\s+").toSeq.filter(_.nonEmpty)
    val nm = lower($"p_name")
    val stage = words match {
      case Seq() => lit(null).cast("int")
      case w0 +: _ => when(nm.contains(phrase), 1)
        .when(forall(typedLit(words.take(2)), nm.contains(_)), 2)
        .when(nm.contains(w0), 3)
    }
    Tables.part(s, dir)
      .withColumn("stage", stage)
      .filter($"stage".isNotNull)
      .select($"stage", $"p_partkey", $"p_name", ($"p_size" * 10).as("stock_qty"))
      .orderBy($"stage", $"p_partkey")
      .limit(1)
  }

  /** `df` sorted in one partition, run as one job. For a result bounded
    * by one customer: a range sort would sample split points in a job of
    * its own (a second fact scan), and under AQE the one-partition
    * exchange would be a job too. The scan before the exchange keeps its
    * splits; `coalesce(1)` would funnel it through one task. */
  private def sortedInOne(df: DataFrame, order: Column*): DataFrame =
    GraftCheckpoint.nonAdaptive(df.repartition(1).sortWithinPartitions(order: _*))

  // R6 — per-user order history with items, newest first
  // (db_service.py:155 get_user_orders + joinedload(items)). The tiny
  // filtered orders side is broadcast into the fact scan (one job), and
  // the customer's lines are sorted in one partition (one job).
  def userOrders(s: SparkSession, dir: String, custkey: Long = 42L): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).filter($"o_custkey" === Param(custkey))
    val lines = Tables.lineitem(s, dir).join(broadcast(o), $"l_orderkey" === $"o_orderkey")
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice",
        $"l_linenumber", $"l_partkey", $"l_quantity", $"l_extendedprice")
    sortedInOne(lines, $"o_orderdate".desc, $"o_orderkey", $"l_linenumber")
  }

  // R6b — admin all-orders listing with nested items, newest first
  // (db_service.py:131 get_all_orders + joinedload(items), served by
  // routers/admin.py:266). Same join as userOrders without the customer
  // filter: both sides are fact-sized, so this is a shuffle sort-merge join
  // on the order key followed by a distributed range sort — no broadcast, no
  // single-partition stage. At dashboard scale the keyset-paginated shape
  // (catalogPage, R4b) is the serving path; this is the full export contract.
  def allOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o  = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_orderdate",
        $"o_totalprice", $"l_linenumber", $"l_partkey", $"l_quantity",
        $"l_extendedprice")
      .orderBy($"o_orderdate".desc, $"o_orderkey", $"l_linenumber")
  }

  // R7 — order status counts (admin oversight, routers/admin.py:267).
  def orderStatusCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total_amount"))
      .orderBy($"o_orderstatus")
  }

  // R8 — cancel-eligible orders: only open statuses may be cancelled
  // (db_service.py:168 cancel_user_order: PENDING|PROCESSING ≈ 'O'|'P').
  // One customer's orders, sorted in one partition: one job.
  def cancelEligible(s: SparkSession, dir: String, custkey: Long = 42L): DataFrame = {
    import s.implicits._
    sortedInOne(Tables.orders(s, dir)
      .filter($"o_custkey" === Param(custkey) && $"o_orderstatus".isin("O", "P"))
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"o_orderdate"),
      $"o_orderkey")
  }

  // R9 — top customers by lifetime revenue (admin customer oversight).
  def topCustomers(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.groupBy($"o_custkey")
      .agg(dsum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"revenue", $"n_orders")
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(k)
  }

  // R10 — revenue by category (category rollup over the product dim).
  def revenueByCategory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    li.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .groupBy($"p_type")
      .agg(
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        dsum($"l_quantity").as("total_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy($"p_type")
  }

  // R28 — incremental materialized-view maintenance: R10's category
  // rollup kept current under an increment batch WITHOUT rescanning the
  // standing fact. base = l_orderkey % 10 ≠ 0 (the snapshot), delta =
  // % 10 = 0 (the new ingest — D9's increment convention). Every view
  // aggregate here is SELF-MAINTAINABLE (SUMs and COUNTs merge by
  // addition — Palpanas et al.'s MV-maintenance class), so maintenance
  // = aggregate the DELTA alone and add two category-sized partial
  // frames; at 100 TB the base partials are a stored snapshot and only
  // the increment is scanned. Partials stay DECIMAL until AFTER the
  // merge (summing double partials would break exactness), so the
  // merged view is bit-identical to the full recompute — the oracle IS
  // R10's full-table SQL, verbatim.
  def revenueByCategoryIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    def partial(rows: DataFrame): DataFrame =
      rows.join(broadcast(p), $"l_partkey" === $"p_partkey")
        .groupBy($"p_type")
        .agg(
          sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast(DecimalType(18, 6))).as("revenue"),
          sum($"l_quantity".cast(DecimalType(18, 6))).as("total_qty"),
          count(lit(1)).as("n_lines"))
    val base = partial(li.filter($"l_orderkey" % 10 =!= 0))
    val delta = partial(li.filter($"l_orderkey" % 10 === 0))
    base.unionByName(delta)
      .groupBy($"p_type")
      .agg(sum($"revenue").cast("double").as("revenue"),
        sum($"total_qty").cast("double").as("total_qty"),
        sum($"n_lines").as("n_lines"))
      .orderBy($"p_type")
  }

  // R11 — best-selling products.
  def topProducts(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    li.groupBy($"l_partkey")
      .agg(dsum($"l_quantity").as("total_qty"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .join(broadcast(p), $"l_partkey" === $"p_partkey")
      .select($"p_partkey", $"p_name", $"total_qty", $"revenue")
      .orderBy($"total_qty".desc, $"p_partkey")
      .limit(k)
  }

  // R12 — revenue rolled up the customer geo hierarchy (TPC-H Q5 shape;
  // the supplier/nation/region graph treated relationally).
  def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    // one fact-fact shuffle join (lineitem ⋈ orders on orderkey);
    // every dimension hop is broadcast.
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"r_name")
  }

  // R13 — customer segment stats.
  def segmentStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), dsum($"c_acctbal").as("sum_acctbal"))
      .withColumn("avg_acctbal", davg($"sum_acctbal", $"n_customers"))
      .orderBy($"c_mktsegment")
  }

  // R15 — per-customer running revenue (window aggregation; partitions by
  // the high-cardinality customer key so it scales out).
  def runningRevenue(s: SparkSession, dir: String, maxCust: Long = 20L): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .filter($"o_custkey" < maxCust)
      .withColumn("running_total",
        sum($"o_totalprice".cast(DecimalType(18, 6))).over(w).cast("double"))
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice", $"running_total")
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  // R16 — top-3 products per category (ranked window over a pre-aggregate).
  def topPerCategory(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    val agg = li.groupBy($"l_partkey").agg(dsum($"l_quantity").as("total_qty"))
      .join(broadcast(p), $"l_partkey" === $"p_partkey")
    val w = Window.partitionBy($"p_type").orderBy($"total_qty".desc, $"p_partkey")
    agg.withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= k)
      .select($"p_type", $"rn", $"p_partkey", $"p_name", $"total_qty")
      .orderBy($"p_type", $"rn")
  }

  // R17 — monthly cohort retention: customers grouped by first-order month,
  // counted in each month they return.
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val firsts = o.groupBy($"o_custkey".as("ck"))
      .agg(date_trunc("month", min($"o_orderdate")).as("cohort_month"))
    o.join(firsts, $"o_custkey" === $"ck")
      .groupBy($"cohort_month", date_trunc("month", $"o_orderdate").as("order_month"))
      .agg(countDistinct($"o_custkey").as("n_active"))
      .orderBy($"cohort_month", $"order_month")
  }

  // R20 — bilateral trade volume (TPC-H Q7 shape): revenue shipped between
  // two nations, by direction and year. Exercises the double dimension-hop
  // join with a cross-pair filter.
  def nationTrade(s: SparkSession, dir: String,
      n1: String = "NATION_1", n2: String = "NATION_2"): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val supN = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val custN = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supN), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(custN), $"o_custkey" === $"c_custkey")
      .filter(($"supp_nation" === n1 && $"cust_nation" === n2) ||
        ($"supp_nation" === n2 && $"cust_nation" === n1))
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  // R21 — market share (TPC-H Q8 shape): one nation's share of revenue
  // within a customer region, per year — conditional aggregation over a
  // multi-hop join.
  def marketShare(s: SparkSession, dir: String,
      nation: String = "NATION_3", region: String = "ASIA"): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val supN = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val custR = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey", $"r_name")
    val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supN), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(custR), $"o_custkey" === $"c_custkey")
      .filter($"r_name" === region)
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(
        dsum(when($"supp_nation" === nation, vol).otherwise(0.0)).as("nation_revenue"),
        dsum(vol).as("total_revenue"))
      .withColumn("mkt_share",
        round($"nation_revenue" / $"total_revenue", 6))
      .orderBy($"o_year")
  }

  // R18 — exact order-value percentiles per segment (sort-based exact
  // percentile; both engines interpolate linearly — rounded to absorb
  // formula-order float diff). At 100 TB the approx sketch (R19) is the path.
  def orderPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.9D))").as("ps"),
        count(lit(1)).as("n_orders"))
      .select($"c_mktsegment",
        round(element_at($"ps", 1), 4).as("p25"),
        round(element_at($"ps", 2), 4).as("p50"),
        round(element_at($"ps", 3), 4).as("p90"),
        $"n_orders")
      .orderBy($"c_mktsegment")
  }

  // R19 — sketch-based distinct counting (HyperLogLog++): the 100 TB
  // answer to COUNT(DISTINCT) — constant memory, mergeable across
  // partitions. Rows-only (sketch estimates are engine-specific); the
  // exact count rides along so the error is visible.
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(countDistinct($"o_custkey").as("n_exact"),
        approx_count_distinct($"o_custkey", 0.02).as("n_approx"))
      .withColumn("rel_err",
        round(abs($"n_approx" - $"n_exact").cast("double") / $"n_exact", 4))
      .orderBy($"c_mktsegment")
  }

  // R24 — approximate percentiles (Greenwald-Khanna sketch): the
  // mergeable-sketch path for quantiles at 100 TB, where R18's exact
  // sort-based percentiles would need a full shuffle of the column.
  // Exact values ride along (same pattern as R19) so the error is
  // self-reporting; the spec bounds it.
  def approxPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(
        expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.9), 10000)").as("approx"),
        expr("percentile(o_totalprice, array(0.25, 0.5, 0.9))").as("exact"),
        count(lit(1)).as("n_orders"))
      .select($"c_mktsegment",
        round($"approx"(0), 4).as("p25_approx"), round($"approx"(1), 4).as("p50_approx"),
        round($"approx"(2), 4).as("p90_approx"),
        round(abs($"approx"(1) - $"exact"(1)) / $"exact"(1), 6).as("p50_rel_err"),
        $"n_orders")
      .orderBy($"c_mktsegment")
  }

  // R22 — hierarchical rollup (OLAP grouping sets): revenue at
  // (region, nation), per-region subtotal, and grand total in one pass —
  // Spark plans a single Expand + aggregation, no self-union of levels.
  // grouping_id disambiguates subtotal rows from real NULL dims; ordering
  // pins NULLS FIRST explicitly because engines disagree on the default.
  def rollupRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"),
        grouping_id().as("gid"))
      .orderBy($"gid", $"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  // R29 — full CUBE (every grouping-set combination): order revenue at
  // (segment, priority), per-segment, per-priority, and grand total in
  // ONE pass — R22's rollup only descends the hierarchy; the cube also
  // produces the (null, priority) cross-slices a dashboard's
  // two-dimensional filter needs. Single Expand + aggregation like R22
  // (4 grouping sets ⇒ 4× the Expand fanout, still one shuffle);
  // grouping_id disambiguates subtotal NULLs from data NULLs.
  def cubeRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .cube($"c_mktsegment", $"o_orderpriority")
      .agg(dsum($"o_totalprice").as("revenue"),
        count(lit(1)).as("n_orders"),
        grouping_id().as("gid"))
      .orderBy($"gid", $"c_mktsegment".asc_nulls_first,
        $"o_orderpriority".asc_nulls_first)
  }

  // R23 — pivot: order counts per segment × status, statuses as columns
  // (the admin-dashboard reshape). Values are enumerated explicitly so
  // the plan is a single pass with no distinct-collection job, and the
  // output schema is stable at any data scale.
  def segmentStatusPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .pivot($"o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy($"c_mktsegment")
  }

  // R25 — unpivot (melt): the wide pivot reshaped back to long form via
  // stack() — the inverse of R23, one generator pass, no shuffle beyond
  // the pivot's own. Zero-count cells survive the round trip (the long
  // form enumerates every segment × status pair), which is what makes
  // pivot∘unpivot the identity.
  def segmentStatusUnpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    segmentStatusPivot(s, dir)
      .select($"c_mktsegment",
        expr("stack(3, 'F', n_f, 'O', n_o, 'P', n_p) AS (o_orderstatus, n_orders)"))
      .orderBy($"c_mktsegment", $"o_orderstatus")
  }

  // R14 — order priority distribution over a date window (partition-prunable
  // filter reaches the scan).
  def orderPriorityDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  // R26 — revenue trend: daily revenue with a trailing 7-row moving
  // average and the ratio vs 7 days earlier (the sales-dashboard trend
  // line; the reference's admin stats page shows totals only — this is
  // the time-series view those totals want). Scale shape: the corpus
  // pass is ONE keyed day aggregation with map-side combine; every
  // window after it runs on the DAY-GRANULARITY frame, whose row count
  // is bounded by the calendar (~2.4k rows for 7 years), not by data
  // volume — a partition-less window there is a constant-size job at
  // any corpus scale. Float parity: revenue is the exact DECIMAL sum
  // (dsum), the average and ratio are single IEEE divisions of values
  // both engines hold identically, rounded 6dp.
  def revenueTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the windowed sums run on the exact DECIMAL (a sliding float sum's
    // association order is engine-internal — segment trees vs running
    // subtraction would disagree in the last bits); only the final
    // average/ratio is one IEEE division of identically-held values
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum($"o_totalprice".cast(DecimalType(18, 6))).as("rev_dec"))
    // partition-less by design: `daily` holds one row per order date, so
    // the single window partition is calendar-sized at any scale
    val w = Window.orderBy($"day").rowsBetween(-6, 0)
    val lagW = Window.orderBy($"day")
    daily
      .withColumn("ma7", round(sum($"rev_dec").over(w).cast("double") /
        count(lit(1)).over(w).cast("double"), 6))
      .withColumn("wow", round($"rev_dec".cast("double") /
        lag($"rev_dec", 7).over(lagW).cast("double"), 6))
      .select($"day", $"rev_dec".cast("double").as("revenue"), $"ma7", $"wow")
      .orderBy($"day")
  }

  // R27 — RFM customer segmentation: recency (latest order), frequency
  // (order count), monetary (exact-decimal revenue), each cut into
  // quintiles by rank. The ranks are NOT window functions — a global
  // ROW_NUMBER window funnels every customer through one task (the
  // whole customer dimension on one executor thread at 100 TB), so each
  // dimension ranks via Ranking.rowNumberWithin over a constant group
  // (range-partition + boundary-offset reconstruction). Quintile
  // membership is pure integer arithmetic on (rank, n) — rk*5 <= i*n —
  // no division or percentile interpolation to disagree on; bucket 1 is
  // the best (most recent / most frequent / highest spend) per the
  // classic RFM convention.
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one customer-keyed aggregation feeds all three rank passes
    val base = graft.Caches.cached(s"rfm-base:$dir") {
      Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(max(to_date($"o_orderdate")).as("last_order"),
          count(lit(1)).as("n_orders"),
          dsum($"o_totalprice").as("revenue"))
        .withColumn("g", lit("all"))
    }
    val quint = (df: DataFrame, rk: String) =>
      df.withColumn(rk.replace("rk_", "b_"),
        when(col(rk) * 5 <= $"n", 1).when(col(rk) * 5 <= $"n" * 2, 2)
          .when(col(rk) * 5 <= $"n" * 3, 3).when(col(rk) * 5 <= $"n" * 4, 4)
          .otherwise(5))
    val rRanked = Ranking.rowNumberWithin(base, "g",
      Seq($"last_order".desc, $"o_custkey"), "rk_r", s"rfm-r:$dir")
    val fRanked = Ranking.rowNumberWithin(
      base.select($"o_custkey", $"n_orders", $"g"), "g",
      Seq($"n_orders".desc, $"o_custkey"), "rk_f", s"rfm-f:$dir")
    val mRanked = Ranking.rowNumberWithin(
      base.select($"o_custkey", $"revenue", $"g"), "g",
      Seq($"revenue".desc, $"o_custkey"), "rk_m", s"rfm-m:$dir")
    val n = base.agg(count(lit(1)).as("n"))
    val joined = rRanked
      .select($"o_custkey", $"last_order", $"n_orders", $"revenue", $"rk_r")
      .join(fRanked.select($"o_custkey", $"rk_f"), "o_custkey")
      .join(mRanked.select($"o_custkey", $"rk_m"), "o_custkey")
      .crossJoin(broadcast(n))
    Seq("rk_r", "rk_f", "rk_m").foldLeft(joined)(quint(_, _))
      .withColumn("rfm", concat($"b_r".cast("string"),
        $"b_f".cast("string"), $"b_m".cast("string")))
      .select($"o_custkey".as("c_custkey"), $"last_order", $"n_orders",
        $"revenue", $"b_r".as("r_bucket"), $"b_f".as("f_bucket"),
        $"b_m".as("m_bucket"), $"rfm")
      .orderBy($"c_custkey")
  }
}
