package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.llm.LlmOps
import graft.operators.GraphOps

/** [[Fixpoint]]: the round loop behind every iterative operator keeps its
  * block footprint O(1) in the round count, stops at a fixpoint and says
  * after how many rounds, and leaves a lazy final round to the caller's
  * action. */
class FixpointSpec extends SparkSpec {

  /** RDDs `body` persisted that still hold blocks when it returns. Each is
    * captured at a job end while the loop still references it, so the
    * context cleaner (which unpersists an RDD once the GC collects it)
    * cannot release it first: only the loop's own release counts. */
  private def persistedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seen = scala.collection.concurrent.TrieMap.empty[Int, RDD[_]]
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        sc.getPersistentRDDs.foreach { case (id, r) =>
          if (!before(id)) seen.put(id, r) }
    }
    org.apache.spark.graftspec.BusDrain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graftspec.BusDrain(sc)
    } finally sc.removeSparkListener(l)
    seen.values.count(_.getStorageLevel != StorageLevel.NONE)
  }

  /** Spark jobs `body` starts. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    org.apache.spark.graftspec.BusDrain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.graftspec.BusDrain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  /** Undirected path 0-1-…-n as (x < y) edges. */
  private def path(n: Int): DataFrame =
    spark.range(n).select(col("id").as("x"), (col("id") + 1).as("y"))

  /** Both directions of the same path, as connectedComponents wants. */
  private def symPath(n: Int): DataFrame = {
    val e = path(n)
    e.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(e.select(col("y").as("src"), col("x").as("dst")))
  }

  test("persisted RDDs stay O(1) in the round count, for every loop shape") {
    val e = Tables.embeddings(spark, Sf0001)
    val loops: Seq[(String, Int => DataFrame)] = Seq(
      "ivfCentroids" -> (r => LlmOps.ivfCentroids(e, k = 4, rounds = r)),
      "kcore" -> (r => GraphOps.kcore(path(20), k = 2, maxRounds = r)),
      "labelPropagation" -> (r => GraphOps.labelPropagation(path(20), r)),
      "connectedComponents" ->
        (r => LlmOps.connectedComponents(symPath(12), maxIter = r)),
      "sssp" -> (r => GraphOps.sssp(
        path(20).select(col("x").as("src"), col("y").as("dst"),
          lit(1L).as("w")), source = 0L, maxHops = r)))
    for ((name, run) <- loops) {
      val one = persistedBy(run(1).collect(): Unit)
      val many = persistedBy(run(6).collect(): Unit)
      // a lazy final round keeps the one round it reads
      assert(many <= one + 1,
        s"$name: $many persisted RDDs after 6 rounds vs $one after 1")
    }
  }

  /** x := min(x + 1, 2) per round; the test compares x to the baseline. */
  private def counter(every: Int, maxRounds: Int): (DataFrame, Int) = {
    val unchanged = Fixpoint.Check(every, (prev, next) =>
      next.join(prev.withColumnRenamed("x", "px"), "v")
        .filter(col("x") =!= col("px")).count() == 0)
    Fixpoint.run(spark.range(4).select(col("id").as("v"), lit(0L).as("x")),
        maxRounds, checkpointInit = false, eagerFinal = false,
        Some(unchanged)) { (cur, _) =>
      Some(cur.select(col("v"), least(col("x") + 1, lit(2L)).as("x")))
    }
  }

  test("a converging loop stops early and reports the rounds it ran") {
    // x: 1, 2, 2 — round 3 changes nothing
    val (out, rounds) = counter(every = 1, maxRounds = 10)
    assert(rounds === 3)
    assert(isCheckpoint(out), "an early stop returns a materialized round")
    assert(out.collect().map(_.getLong(1)).toSet === Set(2L))
    // checked every 2 rounds against the round 2 back: round 2 still
    // differs from the initial frame, round 4 equals round 2
    assert(counter(every = 2, maxRounds = 10)._2 === 4)
    // the cap wins over the check
    assert(counter(every = 1, maxRounds = 2)._2 === 2)
  }

  test("a round that reports the fixpoint ends the loop on its input") {
    val init = spark.range(3).toDF("id")
    val (out, rounds) = Fixpoint.run(init, 10, checkpointInit = false,
        eagerFinal = true, None) { (cur, round) =>
      // per-round scratch is checkpointed through the round
      val probe = round.checkpoint(cur.filter(col("id") < 5))
      if (probe.isEmpty) None
      else Some(cur.select((col("id") + 2).as("id")))
    }
    // ids 0..2 → 2..4 → 4..6 → 6..8: the fourth round's probe is empty
    assert(rounds === 3)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(6L, 7L, 8L))
  }

  test("no Spark job runs for a lazy final round until the caller's action") {
    def loop(rounds: Int, eagerFinal: Boolean) =
      Fixpoint.run(spark.range(10).toDF("id"), rounds,
          checkpointInit = false, eagerFinal, None) { (cur, _) =>
        Some(cur.select((col("id") + 1).as("id")))
      }._1
    val (lazyOne, jobsOne) = jobsOf(loop(1, eagerFinal = false))
    assert(jobsOne === 0)
    assert(!isCheckpoint(lazyOne))
    val (_, jobsAction) = jobsOf(lazyOne.collect())
    assert(jobsAction >= 1)
    // three rounds: two eager cuts, the third left to the caller
    val (lazyThree, jobsThree) = jobsOf(loop(3, eagerFinal = false))
    val (eagerThree, jobsEager) = jobsOf(loop(3, eagerFinal = true))
    assert(jobsThree === 2 && jobsEager === 3, (jobsThree, jobsEager))
    assert(!isCheckpoint(lazyThree) && isCheckpoint(eagerThree))
    assert(lazyThree.collect().map(_.getLong(0)).sorted.toSeq ===
      (3L until 13L))
  }
}
