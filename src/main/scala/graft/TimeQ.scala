package graft
/** One-off query timer (iteration aid): warm up once, then time one
  * noop-sink run per listed name. Pass a name N times for an N-sample
  * isolated re-time (BENCH_NOTES r11 variance protocol). Block hygiene
  * between runs, as in Bench — otherwise a repeated checkpoint-heavy
  * query (graph4's per-round [[Fixpoint]] checkpoints) times its later samples
  * under the eviction pressure of its earlier ones. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("graft-timeq")
    val d = args(0)
    args.drop(1).foreach { name =>
      // warmup once, then time
      SparkEntry.queries(name)(spark, d).write.mode("overwrite").format("noop").save()
      BlockHygiene.dropUnpinned(spark)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).write.mode("overwrite").format("noop").save()
      println(f"TIMEQ $name ${(System.nanoTime()-t0)/1e9}%.3f s")
      BlockHygiene.dropUnpinned(spark)
    }
    spark.stop()
  }
}
