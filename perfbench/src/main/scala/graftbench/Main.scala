package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{BlockHygiene, Graft, SparkEntry, StageMemo, TmpStores}
import graft.migration.MigrationOps
import graft.migration.MigrationOps.{PipelineRunner, Step, StepObserver}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The benchmark harness: one JVM, one session at local[cores], one
  * closed-loop client issuing ops strictly one after another.
  *
  * Usage: `graftbench.Main --workload <name> --input <dir> --work <dir>
  *   --seconds <n> --trace <0|1> --seed <n>`
  *
  * It opens the session (timing `Graft.session` + `TmpStores.sweep`), runs a
  * cold pass and then warm passes for `--seconds` (at least three), and
  * writes `<work>/result.json` (per-pass, per-op timings and per-layer
  * sums) for run.py, which checks the outputs and prints the metrics. With
  * `--trace 1` a [[Probe]] charges Spark jobs, stages, tasks and planning
  * to ops on every other warm pass, and the span tree goes to
  * `<work>/trace.json`. */
object Main {

  /** The query mix. Two groups of `graft.SparkEntry` queries:
    *  - short, read-mostly queries from `graft.Bench`'s headline set, where
    *    per-query fixed costs (schema inference, view registration,
    *    planning, job launch) are a large share of the time, and one that
    *    builds a StageMemo on first use (llm27_bm25);
    *  - iterative and pair-heavy queries: eager driver-side rounds on
    *    RoundCheckpointer (graph2_sssp), posting-list pair expansion
    *    (agg20) and an interpreted gram kernel (llm32b's word n-grams).
    * Headline queries that read or write fixed paths outside the lake
    * directory are left out (sink3_partitioned, mig2_latest_wins,
    * mig4_qa_report, mm1_media_catalog, llm21b_embed_neardup_lsh,
    * llm28b_pq_adc, join14_dpp), and so are most of the rest, to keep a
    * run near one minute. */
  val QueryMix: Seq[String] = Seq(
    "scan1_parquet", "agg1_count", "join3_left", "llm27_bm25",
    "sql1_pricing_summary", "graph2_sssp", "agg20_copurchase_pairs",
    "llm32b_span_dup_hashed")

  val MigrateSteps: Seq[String] =
    Seq("parse", "import", "store", "qa", "report", "archive")

  final case class Args(workload: String, input: String, work: String,
                        seconds: Double, trace: Boolean, seed: Long)

  /** One op execution: timings from the harness, counters from the probe
    * (empty on untraced passes). */
  final case class OpRun(id: Long, name: String, ok: Boolean, error: String,
                         wallS: Double, buildS: Double, memoBuilds: Int,
                         memoS: Double, hygieneS: Double, all: Counters,
                         build: Counters)

  /** One pass; `steal` is the share of the host's CPU time the hypervisor
    * gave to other guests while the pass ran. */
  final case class PassRun(index: Int, kind: String, traced: Boolean,
                           wallS: Double, steal: Double, ops: Seq[OpRun],
                           extra: Map[String, Double])

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("work"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("seed", "0").toLong)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    require(Seq("migrate", "query_mix").contains(a.workload),
      s"unknown workload ${a.workload}")
    // set-up: the first session of this JVM, which is what a user waits
    // for before the first op
    val t0 = System.nanoTime()
    val spark = Graft.session("graftbench")
    TmpStores.sweep()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(f"${a.workload}-s${a.seed}-${System.currentTimeMillis()}%x")
    val h = new Harness(spark, a, tracer)
    val passes = h.runPasses()
    val check = if (a.workload == "migrate") Map.empty[String, Any] else h.checkOutputs()
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> h.cores,
      "run_id" -> tracer.runId, "session_s" -> sessionS,
      "passes" -> passes.map(passJson), "check" -> check,
      "peak_rss_mb" -> peakRssMb(), "retained_heap_mb" -> h.retainedHeapMb)
    write(s"${a.work}/result.json", Serialization.write(result))
    if (a.trace) write(s"${a.work}/trace.json", Serialization.write(Map(
      "run_id" -> tracer.runId,
      "spans" -> tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "attrs" -> s.attrs)))))
    spark.stop()
  }

  private implicit val formats: Formats = DefaultFormats

  def write(path: String, text: String): Unit =
    Files.writeString(Paths.get(path), text)

  /** (all, stolen) CPU ticks of the host so far, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").slice(1, 9).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }

  /** High-water resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def passJson(p: PassRun): Map[String, Any] = Map(
    "index" -> p.index, "kind" -> p.kind, "traced" -> p.traced,
    "wall_s" -> p.wallS, "steal" -> p.steal, "layer" -> layer(p),
    "ops" -> p.ops.map(o => Map("name" -> o.name, "ok" -> o.ok,
      "error" -> o.error, "wall_s" -> o.wallS, "build_s" -> o.buildS)))

  /** The additive metrics of one op; a pass's layer metrics sum them.
    * Counter-derived entries are zero on untraced passes. */
  def opMetrics(o: OpRun): Map[String, Double] = Map(
    "build_s" -> o.buildS, "build_jobs" -> o.build.jobs.toDouble,
    "plan_ms" -> o.all.planMs, "memo_builds" -> o.memoBuilds.toDouble,
    "memo_build_s" -> o.memoS, "jobs" -> o.all.jobs.toDouble,
    "stages" -> o.all.stages.toDouble, "tasks" -> o.all.tasks.toDouble,
    "task_cpu_s" -> o.all.cpuNs / 1e9, "gc_s" -> o.all.gcMs / 1e3,
    "shuffle_write_bytes" -> o.all.shuffleWrite.toDouble,
    "shuffle_read_bytes" -> o.all.shuffleRead.toDouble,
    "spill_bytes" -> o.all.spill.toDouble,
    "input_bytes" -> o.all.inputBytes.toDouble,
    "output_bytes" -> o.all.outputBytes.toDouble,
    "failed_tasks" -> o.all.failedTasks.toDouble, "hygiene_s" -> o.hygieneS)

  /** Per-pass sums of the per-layer metrics, plus the pass's ratios. */
  def layer(p: PassRun): Map[String, Double] = {
    val sums = p.ops.map(opMetrics).reduceOption((x, y) =>
      x.map { case (k, v) => k -> (v + y(k)) }).getOrElse(Map.empty)
    val runMs = p.ops.map(_.all.runMs).sum.toDouble
    val tasks = p.ops.map(_.all.tasks).sum
    val opWall = p.ops.map(_.wallS).sum
    sums ++ Map(
      "core_util" -> (if (opWall > 0) runMs / 1000 / (opWall * Graft.cpus.toDouble) else 0.0),
      "empty_task_ratio" ->
        (if (tasks > 0) p.ops.map(_.all.emptyTasks).sum.toDouble / tasks else 0.0),
      "parse.task_skew" -> 0.0, "archive.ratio" -> 0.0) ++
      MigrateSteps.map(s => s"step.${s}_s" ->
        p.ops.filter(_.name == s).map(_.wallS).sum) ++ p.extra
  }
}

/** Runs the passes of one workload on one session. */
final class Harness(spark: SparkSession, a: Main.Args, tracer: Tracer) {
  import Main._

  val cores: Int = Graft.cpus.toInt
  private val probe = new Probe(tracer)
  private var attached = false
  private val workloadSpan = tracer.nextId()
  private val lake = s"${a.input}/lake"

  /** Attaches or detaches the probe (traced passes only). */
  def setTraced(on: Boolean): Unit = if (on != attached) {
    if (on) probe.attach(spark) else probe.detach(spark)
    attached = on
  }

  /** Counters charged so far to `op` in `phase` ("none" for op 0: work
    * outside any op), after every posted event has been delivered. */
  def counters(op: Long, phase: String): Counters = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    probe.counters(op, phase)
  }

  private def memoLedger(): Map[String, Double] =
    StageMemo.buildSeconds(spark).toMap

  /** An op in flight, from construction until `end` records it. */
  final class OpTimer(passSpan: Long, val name: String) {
    val op: Long = tracer.nextId()
    probe.currentOp = op
    private val memo0 = memoLedger()
    private val t0 = System.nanoTime()

    def end(error: String, buildS: Double): OpRun = {
      val t1 = System.nanoTime()
      Probe.untag(spark)
      if (error.nonEmpty) System.err.println(s"[graftbench] $name failed: $error")
      val memoNew = memoLedger().filter { case (k, _) => !memo0.contains(k) }
      val h0 = System.nanoTime()
      BlockHygiene.dropUnpinned(spark)
      val hygieneS = (System.nanoTime() - h0) / 1e9
      if (attached) org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      val build = probe.counters(op, "build")
      val all = new Counters
      Seq("build", "exec", "plan").foreach(p => all += probe.counters(op, p))
      val run = OpRun(op, name, error.isEmpty, error, (t1 - t0) / 1e9, buildS,
        memoNew.size, memoNew.values.sum, hygieneS, all, build)
      if (attached) tracer.add(Span(op, passSpan, "op", name, tracer.ms(t0),
        tracer.ms(t1), opMetrics(run) + ("ok" -> (if (run.ok) 1.0 else 0.0))))
      run
    }

    /** Tags the jobs this thread starts as this op's `phase`; returns the
      * phase's span id. */
    def phase(p: String): Long = {
      val span = tracer.nextId()
      Probe.tag(spark, op, p, span)
      span
    }
  }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).take(300)

  /** Runs `body` as one op; `body` tags its phases and returns the
    * seconds it spent building a DataFrame. A throw fails the op. */
  def op(passSpan: Long, name: String)(body: OpTimer => Double): OpRun = {
    val t = new OpTimer(passSpan, name)
    var buildS = 0.0
    try { buildS = body(t); t.end("", buildS) }
    catch { case e: Throwable => t.end(message(e), buildS) }
  }

  /** A declared query as an op: build the DataFrame, then materialize all
    * of its columns with a `noop` write (a `count()` would let Spark prune
    * columns and skip work). */
  private def queryOp(passSpan: Long, name: String): OpRun = {
    val fn = SparkEntry.queries(name)
    op(passSpan, name) { t =>
      val buildSpan = t.phase("build")
      val t0 = System.nanoTime()
      val df = fn(spark, lake)
      val t1 = System.nanoTime()
      val execSpan = t.phase("exec")
      df.write.format("noop").mode("overwrite").save()
      if (attached) {
        tracer.add(Span(buildSpan, t.op, "build", name, tracer.ms(t0), tracer.ms(t1)))
        tracer.add(Span(execSpan, t.op, "exec", name, tracer.ms(t1),
          tracer.ms(System.nanoTime())))
      }
      (t1 - t0) / 1e9
    }
  }

  private var passIndex = 0

  /** Largest heap still in use after a full collection at the end of a
    * pass: what the program retains across ops (memos, cached blocks,
    * broadcasts), independent of when the collector happened to run. */
  var retainedHeapMb = 0.0

  private def pass(kind: String, traced: Boolean): PassRun = {
    setTraced(traced)
    passIndex += 1
    val span = tracer.nextId()
    val ticks0 = cpuTicks()
    val t0 = System.nanoTime()
    val (ops, extra) = a.workload match {
      case "migrate" => migratePass(span)
      case _ =>
        // the cold pass keeps the declared order, so that it pays the same
        // first-use costs on every seed; the seed permutes the warm passes
        val order = if (kind == "cold") QueryMix
          else new scala.util.Random(a.seed * 7919L + passIndex).shuffle(QueryMix)
        (order.map(queryOp(span, _)), Map.empty[String, Double])
    }
    val t1 = System.nanoTime()
    val ticks1 = cpuTicks()
    val steal = (ticks1._2 - ticks0._2).toDouble / math.max(1L, ticks1._1 - ticks0._1)
    if (attached) tracer.add(Span(span, workloadSpan, "pass",
      s"$kind $passIndex", tracer.ms(t0), tracer.ms(t1)))
    System.err.println(f"[graftbench] pass $passIndex $kind%-4s " +
      f"traced=$traced ${(t1 - t0) / 1e9}%.2f s, host steal ${100 * steal}%.1f %%")
    System.gc()
    retainedHeapMb = math.max(retainedHeapMb, java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
    PassRun(passIndex, kind, traced, (t1 - t0) / 1e9, steal, ops, extra)
  }

  /** Cold pass, then warm passes until `seconds` have passed since the
    * cold pass ended, and at least three warm passes (five when traced). */
  def runPasses(): Seq[PassRun] = {
    val start = System.nanoTime()
    val tWorkload = tracer.ms(start)
    val hardStop = start + 120L * 1000000000L
    val minWarm = if (a.trace) 5 else 3
    val out = ArrayBuffer(pass("cold", a.trace))
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var warm = 0
    while ((System.nanoTime() < deadline || warm < minWarm) &&
        System.nanoTime() < hardStop) {
      // traced runs: the first warm pass is untraced, then the passes go
      // traced, untraced, untraced, traced, so that the downward trend of
      // JIT warm-up cancels out of the traced/untraced comparison
      out += pass("warm", a.trace && warm > 0 && Set(0, 3).contains((warm - 1) % 4))
      warm += 1
    }
    setTraced(false)
    tracer.add(Span(workloadSpan, 0L, "workload", a.workload, tWorkload,
      tracer.ms(System.nanoTime())))
    out.toSeq
  }

  // ---- migrate ------------------------------------------------------------

  private val catalogSchema = StructType(Seq(
    StructField("class_name", StringType), StructField("n_ref", LongType)))

  private def migratePass(passSpan: Long): (Seq[OpRun], Map[String, Double]) = {
    val out = s"${a.work}/pass-$passIndex"
    val ops = ArrayBuffer.empty[OpRun]
    // the runner drives the chain; its observer turns each step into an op
    val observer = new StepObserver {
      private var cur: OpTimer = _
      private var t0 = 0L
      private var span = 0L
      private def close(error: String): Unit = {
        if (attached) tracer.add(Span(span, cur.op, "exec", cur.name,
          tracer.ms(t0), tracer.ms(System.nanoTime())))
        ops += cur.end(error, 0.0)
      }
      override def onStart(i: Int, n: String): Unit = {
        cur = new OpTimer(passSpan, n)
        span = cur.phase("exec")
        t0 = System.nanoTime()
      }
      override def onSuccess(i: Int, n: String): Unit = close("")
      override def onFailure(i: Int, n: String, e: Throwable): Unit =
        close(message(e))
    }
    val runner = new PipelineRunner(s"$out/_steps", observer)
    try runner.run(spark, migrateSteps(out)) catch { case _: Throwable => () }
    val parse = ops.find(_.name == "parse").map(_.all.taskMs.sorted)
    val skew = parse.filter(_.nonEmpty).map(t => t.last.toDouble /
      math.max(1L, t(t.size / 2))).getOrElse(0.0)
    val archive = Paths.get(s"$out/backup.tar.xz")
    val ratio = if (Files.exists(archive))
      Files.size(archive).toDouble / math.max(1L, dirBytes(s"$out/release")) else 0.0
    // keep the cold pass and the latest pass for run.py's output checks
    if (passIndex > 2) deleteTree(Paths.get(s"${a.work}/pass-${passIndex - 1}"))
    (ops.toSeq, Map("parse.task_skew" -> skew, "archive.ratio" -> ratio))
  }

  private def migrateSteps(out: String): Seq[Step] = {
    val in = a.input
    Seq(
      Step("parse", s =>
        MigrationOps.aceDatoms(s, s"$in/dump/*.ace.gz").withColumn("ts", lit(0L))
          .unionByName(MigrationOps.aceDatoms(s, s"$in/patches/*.ace.gz")
            .withColumn("ts", lit(1L)))
          .write.mode("overwrite").parquet(s"$out/datoms")),
      Step("import", s =>
        MigrationOps.latestWins(s.read.parquet(s"$out/datoms"))
          .write.mode("overwrite").parquet(s"$out/state")),
      // per-class parquet store: one file per class directory
      Step("store", s =>
        s.read.parquet(s"$out/state")
          .withColumn("cls", split(col("e"), ":").getItem(0))
          .repartition(col("cls"))
          .write.mode("overwrite").partitionBy("cls")
          .parquet(s"$out/release/store")),
      Step("qa", s => {
        val catalog = s.read.option("header", "true").schema(catalogSchema)
          .csv(s"$in/id_catalog.csv")
        MigrationOps.classCounts(s.read.parquet(s"$out/state"))
          .join(catalog, Seq("class_name"), "full_outer")
          .select(col("class_name"),
            coalesce(col("n_ref"), lit(0L)).as("n_ref"),
            coalesce(col("n_db"), lit(0L)).as("n_db"),
            (coalesce(col("n_db"), lit(0L)) - coalesce(col("n_ref"), lit(0L)))
              .as("n_diff"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/qa")
      }),
      Step("report", s => {
        val qa = s.read.parquet(s"$out/qa")
        def lines(df: DataFrame): String =
          df.collect().sortBy(_.getLong(0)).map(_.getString(1)).mkString("", "\n", "\n")
        Files.createDirectories(Paths.get(s"$out/release/report"))
        write(s"$out/release/report/qa_report.md",
          lines(MigrationOps.markdownReport(qa)))
        write(s"$out/release/report/qa_report.html",
          lines(MigrationOps.htmlReport(qa, "Migration QA report")))
      }),
      Step("archive", _ => {
        graft.util.Archive.tarXz(s"$out/release", s"$out/backup.tar.xz",
          "graft-release")
        ()
      }))
  }

  private def dirBytes(dir: String): Long = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  private def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => { Files.deleteIfExists(f); () })
    finally w.close()
  }

  // ---- output checks (query mixes) ---------------------------------------

  /** Evaluates every op once more, outside the timed passes, and writes its
    * output under `<work>/check/<op>` with the op's DuckDB oracle SQL, for
    * run.py to compare row counts and order-insensitive digests. */
  def checkOutputs(): Map[String, Any] = {
    val status = QueryMix.sorted.map { n =>
      n -> (try {
        SparkEntry.queries(n)(spark, lake).coalesce(1)
          .write.mode("overwrite").parquet(s"${a.work}/check/$n")
        "ok"
      } catch { case e: Throwable => s"error: ${message(e)}"
      } finally BlockHygiene.dropUnpinned(spark))
    }.toMap
    Map("dir" -> s"${a.work}/check", "status" -> status,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => QueryMix.contains(k) })
  }
}
