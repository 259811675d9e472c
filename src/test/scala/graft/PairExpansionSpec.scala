package graft

import org.apache.spark.sql.functions._

import graft.operators.{Analytics, GraphOps, PairExpansion}

/** Posting-list pair expansion ([[PairExpansion]]) against the naive
  * distinct + self-join forms it replaced, through the production callers:
  * agg20's declared query, the graph family's co-purchase edge memo, and
  * the df-capped directed expansion the n-gram dedup family runs — pinned
  * so later churn can't silently change what the queries compute. */
class PairExpansionSpec extends SparkSpec {

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  test("agg20: collect_set pair expansion == naive distinct self-join") {
    val naive = {
      val op = Tables.lineitem(spark, Sf0001)
        .select("l_orderkey", "l_partkey").distinct()
      val a = op.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      val b = op.select(col("l_orderkey"), col("l_partkey").as("part_b"))
      a.join(b, Seq("l_orderkey"))
        .filter(col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_orders"))
    }
    // the FULL pair table, with agg20's arguments
    val full = PairExpansion.counts(Tables.lineitem(spark, Sf0001),
      col("l_orderkey"), col("l_partkey"), asSet = true, directed = false,
      dfCap = None)
    assert(triples(naive).nonEmpty, "fixture must produce co-purchase pairs")
    assert(triples(full).toSet === triples(naive).toSet)
    // and the declared query itself: its top-20 is the naive top-20
    val top = triples(naive.orderBy(col("n_orders").desc, col("part_a"),
      col("part_b")).limit(20))
    val declared = triples(Analytics.queries("agg20_copurchase_pairs")(
      spark, Sf0001))
    assert(declared.toSeq === top.toSeq)
  }

  test("graph edge memo: collect_set expansion == naive basket self-join") {
    val li = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .distinct()
    val naive = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("x"), col("b.p").as("y"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val edges = GraphOps.partCoPurchaseEdges(spark, Sf0001)
    assert(edges.columns.toSeq === Seq("x", "y"))
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(naive.nonEmpty, "fixture must produce co-purchase edges")
    assert(got.length === got.toSet.size, "edges must be distinct")
    assert(got.toSet === naive)
  }

  test("posting lists: df-capped directed pairs == naive capped self-join") {
    val s = spark
    import s.implicits._
    // shingle "hot" is carried by 4 docs — above the cap of 3; docs 1 and 4
    // share nothing else, so their pair must vanish under the cap
    val rows = Seq(
      (1L, "hot"), (2L, "hot"), (3L, "hot"), (4L, "hot"),
      (1L, "ab"), (2L, "ab"),
      (1L, "abc"), (2L, "abc"), (3L, "abc"),
      (3L, "cd"), (4L, "cd"),
      (5L, "solo"))
      .toDF("doc_id", "shingle")
    val cap = 3
    val naive = {
      val df = rows.groupBy("shingle").agg(count(lit(1)).as("df"))
      val kept = rows.join(df.filter(col("df") <= cap), "shingle")
      kept.select(col("shingle"), col("doc_id").as("a"))
        .join(kept.select(col("shingle"), col("doc_id").as("b")), "shingle")
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
    }
    val got = triples(PairExpansion.counts(rows, col("shingle"),
      col("doc_id"), asSet = false, directed = true, dfCap = Some(cap)))
    assert(got.toSet === triples(naive).toSet)
    assert(got.toSet.contains((1L, 2L, 2L)) && got.toSet.contains((2L, 1L, 2L)),
      "directed: both orders, counting the two under-cap shingles")
    assert(!got.exists(t => t._1 == 1L && t._2 == 4L),
      "a pair resting only on the over-cap shingle must be pruned")
    // uncapped, the hot shingle contributes: (1, 4) appears
    val uncapped = triples(PairExpansion.counts(rows, col("shingle"),
      col("doc_id"), asSet = false, directed = true, dfCap = Some(4)))
    assert(uncapped.toSet.contains((1L, 4L, 1L)))
  }
}
