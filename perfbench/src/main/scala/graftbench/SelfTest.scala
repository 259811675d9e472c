package graftbench

import graft.{Graft, StageMemo}

/** The harness's own tests, run by `python3 perfbench/run.py --selftest`:
  *  - a synthetic op with a known number of Spark jobs, stages and tasks is
  *    charged exactly those, and a job started after the op has ended is
  *    charged to no op;
  *  - a StageMemo build is charged to the op whose call triggered it, and
  *    a later op that hits the memo is charged nothing.
  * Exits 1 if any check fails. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("graftbench-selftest")
    val sc = spark.sparkContext
    val work = args.headOption.getOrElse(System.getProperty("java.io.tmpdir"))
    val h = new Harness(spark,
      Main.Args("query_mix", work, work, 0, trace = true, 0L), new Tracer("selftest"))
    h.setTraced(true)
    var failures = 0
    def check(name: String, ok: Boolean, detail: String): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name: $detail")
      if (!ok) failures += 1
    }

    // 2 jobs: reduceByKey over 4 partitions into 2 (2 stages, 6 tasks),
    // then a count over 3 partitions (1 stage, 3 tasks)
    val known = h.op(0L, "known-counts") { t =>
      t.phase("exec")
      sc.parallelize(1 to 100, 4).map(x => (x % 3, 1)).reduceByKey(_ + _, 2).collect()
      sc.parallelize(1 to 10, 3).count()
      0.0
    }
    val c = known.all
    check("known job/stage/task counts", c.jobs == 2 && c.stages == 3 && c.tasks == 9,
      s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} (want 2/3/9)")
    // one job outside any op: charged to no op (op 0), not to the last op
    val unowned0 = h.counters(0L, "none").jobs
    sc.parallelize(1 to 10, 2).count()
    val knownAfter = h.counters(known.id, "exec")
    val unowned = h.counters(0L, "none").jobs - unowned0
    check("work outside an op is not charged to an op",
      knownAfter.jobs == 2 && knownAfter.tasks == 9 && unowned == 1,
      s"last op now jobs=${knownAfter.jobs} tasks=${knownAfter.tasks} (want 2/9), " +
        s"unowned jobs +$unowned (want +1)")

    val key = "graftbench.selftest"
    def useMemo(): Double = {
      StageMemo.frame(spark, key)(spark.range(1000).toDF("id")).count()
      0.0
    }
    val before = h.op(0L, "before") { _ => spark.range(10).count(); 0.0 }
    val first = h.op(0L, "first-use")(_ => useMemo())
    val second = h.op(0L, "second-use")(_ => useMemo())
    check("memo build lands on the triggering op",
      before.memoBuilds == 0 && first.memoBuilds == 1 && second.memoBuilds == 0 &&
        first.memoS > 0,
      s"builds before/first/second = ${before.memoBuilds}/${first.memoBuilds}/" +
        s"${second.memoBuilds}, first build ${first.memoS} s")
    h.setTraced(false)
    spark.stop()
    println(s"[selftest] ${if (failures == 0) "passed" else s"$failures FAILED"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
