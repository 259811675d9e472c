package graft.streaming

import graft.{Det, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.9: streaming operators over `events`.
  *
  * Each transformation is written ONCE against a DataFrame and is valid on
  * both a batch frame (the declared batch-replay queries below — the
  * driver's DuckDB oracle checks those) and a `readStream` frame (the
  * StructuredStreamingSpec drives the same functions through MemoryStream
  * with watermarks, verifying true incremental execution).
  *
  * Scale notes: windowed aggregations key on (window, type) / (user,
  * session) — state is bounded by watermark eviction; dedup state is keyed
  * on event_id with the same watermark TTL. Stream-static joins broadcast
  * the static dim, so the stream side never shuffles.
  */
object StreamOps extends QueryModule {

  /** events with a proper TimestampType event_ts (from the ns long). */
  def withEventTs(events: DataFrame): DataFrame =
    events.withColumn("event_ts", timestamp_micros(expr("ts div 1000")))

  // ---- transformations (streaming- and batch-valid) ----------------------

  /** STRM-1: tumbling 10-minute window counts+sums per event_type. */
  def tumblingAgg(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("event_ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** STRM-2: sliding 10-minute window, 5-minute hop. */
  def slidingAgg(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("event_ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("n"))

  /** STRM-16: per-window value quantiles from a MERGEABLE sketch — the
    * streaming-quantile story: exact quantiles need the window's full
    * sorted multiset (unbounded state), but DDSketch state folds
    * micro-batch rows bucket-wise, so the emitted quantile is exactly
    * the sketch of the window's whole multiset no matter how rows split
    * across batches (DdsSpec's merge law). State per open window is one
    * KB-scale bucket map, evicted once the watermark closes the window.
    * 1-hour tumbling (vs strm1's 10-min) — a second window granularity. */
  def windowedQuantiles(ev: DataFrame): DataFrame =
    // count(value), not count(*): DdsAgg skips NULLs, so n must too
    ev.groupBy(window(col("event_ts"), "1 hour"))
      .agg(count(col("value")).as("n"),
        call_function("dds_sketch_agg", col("value"), lit(0.01)).as("sk"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("n"),
        call_function("dds_quantile_bucket", col("sk"), lit(0.5))
          .as("p50_bucket"),
        call_function("dds_quantile", col("sk"), lit(0.5)).as("p50_est"),
        call_function("dds_quantile_bucket", col("sk"), lit(0.95))
          .as("p95_bucket"),
        call_function("dds_quantile", col("sk"), lit(0.95)).as("p95_est"))

  /** STRM-17: per-window trending keys — SpaceSaving as windowed streaming
    * state: k counters per OPEN window regardless of key cardinality (the
    * exact formulation keeps every key it has seen — unbounded on a hot
    * stream). Graceful degradation is the contract: while a window's key
    * cardinality stays ≤ k the summary IS the exact count table (err 0,
    * deterministic — the gate k=512 is ~3× this lake's max hourly users
    * at sf0.1, so the DuckDB oracle hash-matches); past k it degrades to
    * est ≥ true ≥ est − err counters (SpaceSavingSpec/PropertySpec). */
  def windowedTopK(ev: DataFrame, k: Int = 512): DataFrame =
    ev.groupBy(window(col("event_ts"), "1 hour"))
      .agg(call_function("space_saving_agg", col("user_id"), lit(k))
        .as("top"))
      .select(col("window"), posexplode(slice(col("top"), 1, 5)))
      .select(unix_micros(col("window.start")).as("ws_us"),
        (col("pos") + 1).as("rank"),
        col("col.key").as("user_id"),
        col("col.est").as("est_n"),
        col("col.err").as("err_n"))

  /** STRM-23 state half: per event-time hour, the 10-bucket histogram of
    * `value` (bucket = min(⌊value/10⌋, 9)). Streaming-valid: a watermarked
    * groupBy(window × bucket) whose state is ≤10 counters per open window
    * — the monitor's ENTIRE streaming footprint, evicted with the window.
    * PSI itself is a stateless finisher over closed windows
    * ([[driftPsiFromCounts]]), the split that keeps the stream's state
    * bounded no matter how many windows the monitor has ever scored. */
  def windowedBucketCounts(ev: DataFrame): DataFrame =
    ev.filter(col("value").isNotNull)
      .groupBy(window(col("event_ts"), "1 hour"),
        // clamped to [0, 9] on BOTH ends: a negative value must land in
        // bucket 0, not an off-grid bucket the finisher's 0..9 pivot
        // would drop from pa while counting in n (and the oracle's grid
        // join would drop from n too — cross-engine divergence)
        greatest(least(floor(col("value") / lit(10.0)), lit(9L)), lit(0L))
          .cast("long").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("bucket"),
        col("c"))

  /** STRM-23 finisher: smoothed PSI of each window's bucket histogram
    * against the broadcast reference histogram `ref` (bucket, rc) —
    * llm30's drift statistic applied per event-time window, the
    * training-data observability loop (llm30 scores two static sources;
    * this scores a live stream hour-by-hour against the corpus the model
    * was trained on). The full window×bucket grid is generated so ABSENT
    * buckets contribute their smoothed term — pa=(c+.5)/(n+5),
    * pb=(rc+.5)/(N+5), PSI = Σ(pa−pb)·ln(pa/pb), decimal-summed (order-
    * free) then rounded 6 dp, llm30's cross-engine protocol. Everything
    * downstream of the counts is metadata-sized: |windows|·10 rows. */
  def driftPsiFromCounts(s: SparkSession, counts: DataFrame,
                         ref: DataFrame): DataFrame = {
    val refT = ref.agg(sum(col("rc")).cast("double").as("rn"))
    // ONE ws_us exchange builds the full 10-bucket vector per window
    // (absent buckets pinned to 0), then explodes it back to long form —
    // no distinct+crossJoin+self-join (which both costs an extra
    // exchange and trips attribute-conflict resolution when `counts` is
    // a memory-sink table)
    val perBucket = (0L until 10L).map(b =>
      coalesce(sum(when(col("bucket") === b, col("c"))), lit(0L))
        .as(s"c$b"))
    val g = counts.groupBy("ws_us")
      .agg(sum(col("c")).cast("double").as("n"), perBucket: _*)
      .select(col("ws_us"), col("n"), explode(array((0 until 10).map(b =>
        struct(lit(b.toLong).as("bucket"), col(s"c$b").as("c"))): _*))
        .as("e"))
      .select(col("ws_us"), col("n"), col("e.bucket").as("bucket"),
        col("e.c").as("c"))
    g.join(broadcast(ref), Seq("bucket"), "left")
      .crossJoin(broadcast(refT))
      .select(col("ws_us"), col("n"),
        ((col("c").cast("double") + lit(0.5)) / (col("n") + lit(5.0)))
          .as("pa"),
        ((coalesce(col("rc"), lit(0L)).cast("double") + lit(0.5)) /
          (col("rn") + lit(5.0))).as("pb"))
      .groupBy("ws_us")
      .agg(max(col("n")).cast("long").as("n_events"),
        (round(sum(((col("pa") - col("pb")) * log(col("pa") / col("pb")))
          .cast("decimal(28,12)")).cast("double") * lit(1e6)) / lit(1e6))
          .as("psi"))
      .orderBy("ws_us")
  }

  /** STRM-23 streaming: the watermarked state half — windowed bucket
    * counts whose per-window state is 10 counters, dropped when the
    * watermark closes the window. The PSI finisher runs downstream on
    * the emitted (closed) windows. */
  def windowedBucketCountsStream(ev: DataFrame,
                                 watermark: String = "1 hour"): DataFrame =
    windowedBucketCounts(ev.withWatermark("event_ts", watermark))

  /** STRM-3: 30-minute-gap session windows per user. */
  def sessionAgg(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("event_ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start_us"),
        unix_micros(col("session_window.end")).as("sess_end_us"),
        col("n"))

  /** STRM-3b: DYNAMIC-gap sessionization — the gap is a per-event
    * expression (clicks time out in 10 min, everything else 30), which
    * `session_window` accepts as a Column: sessions close when the next
    * event lands past the running max of (event_ts + its own gap), and
    * windows merge transitively. The fixed-gap formulation cannot
    * express per-event-type engagement timeouts; the oracle replicates
    * the semantics exactly as gaps-and-islands SQL (running max of
    * t+gap, break on t ≥ prev_end — the same [start, end) boundary
    * Spark uses). Same single (user) exchange as strm3 at any scale. */
  def dynamicSessionAgg(ev: DataFrame): DataFrame =
    ev.groupBy(
        session_window(col("event_ts"),
          when(col("event_type") === "click", "10 minutes")
            .otherwise("30 minutes")),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start_us"),
        unix_micros(col("session_window.end")).as("sess_end_us"),
        col("n"))

  /** STRM-5: exactly-once dedup by event_id (streaming: with watermark
    * state TTL; batch: same call). */
  def dedupById(ev: DataFrame): DataFrame =
    ev.dropDuplicates("event_id")

  /** STRM-7: enrich events with a static dimension (broadcast). */
  def enrich(ev: DataFrame, dim: DataFrame): DataFrame =
    ev.join(broadcast(dim), Seq("event_type"), "left")

  /** STRM-11: incremental corpus dedup — the streaming form of LLM-1 for
    * a continuously-ingested corpus. Drop arriving documents whose content
    * hash already exists in the historical corpus (stream-static LEFT ANTI
    * join; the static side is a hash INDEX — 32 B/doc, never text — that
    * broadcasts while it fits and bucket-joins beyond that), then dedup
    * within the stream on the same hash (dropDuplicates state keyed on the
    * hash; watermark-TTL it in production if re-sends are time-bounded).
    * Valid on both batch and readStream frames. */
  def dedupAgainstCorpus(docs: DataFrame, corpusHashes: DataFrame): DataFrame =
    docs.withColumn("h", sha2(col("text").cast("binary"), 256))
      .join(corpusHashes, Seq("h"), "left_anti")
      .dropDuplicates("h")

  /** STRM-12: streaming NEAR-dup ingest — maintain a MinHash-LSH band
    * index across micro-batches through the versioned store and flag
    * arriving docs that band-collide with any already-indexed doc.
    *
    * Per micro-batch inside foreachBatch: (1) shingle+sign only the batch
    * (history is never re-shingled); (2) join batch band rows against the
    * persisted index → candidate (doc_id, dup_of) pairs, appended to
    * `hitsDir`; (3) MERGE the batch's band rows into the index and commit
    * as the next store version (atomic marker flip; vacuum bounds
    * retention). The emitted pairs are LSH CANDIDATES — the standard
    * ingest-time contract; [[graft.llm.LlmOps.minhashCrossPairs]] is the
    * exact-verified batch form the oracle checks, and a production ingest
    * re-verifies candidates against stored signatures before acting.
    * At 100 TB the index is band-hash-bucketed so the per-batch probe is a
    * co-located join, and the micro-batch side is small → broadcast. */
  def runNearDupIngest(docs: DataFrame, indexDir: String, hitsDir: String,
                       checkpointDir: String,
                       retainVersions: Int = 4): Unit = {
    import graft.operators.VersionedStore
    import graft.llm.LlmOps
    val q = docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val newBands = LlmOps.bandedOf(LlmOps.shingled(batch))
          .localCheckpoint()
        if (VersionedStore.latestVersion(indexDir).isDefined) {
          val idx = VersionedStore.read(batch.sparkSession, indexDir)
          newBands
            .join(idx.select(col("doc_id").as("dup_of"),
              col("band_idx"), col("band_hash")), Seq("band_idx", "band_hash"))
            .filter(col("doc_id") =!= col("dup_of"))
            .select("doc_id", "dup_of").distinct()
            .write.mode("append").parquet(hitsDir)
          VersionedStore.commit(idx.unionByName(newBands).distinct(), indexDir)
        } else {
          VersionedStore.commit(newBands.distinct(), indexDir)
        }
        VersionedStore.vacuum(indexDir, keep = retainVersions)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** STRM-14: checkpointed incremental FILE ingest (auto-loader shape) —
    * the front door of a continuously-landing lake: discover new files
    * under `src`, process exactly once, append to `out`, remember progress
    * in `ckpt`. Trigger.AvailableNow drains the current backlog in BOUNDED
    * micro-batches (maxFilesPerTrigger caps listing+memory per batch —
    * crucial when a backlog is 10^6 files) and then exits, so a scheduled
    * batch job gets streaming's bookkeeping: a processed-file log, crash
    * resume, and no double-processing. A later run with the same
    * checkpoint picks up ONLY files that landed since
    * (StructuredStreamingSpec proves the resume). */
  def fileIngestAvailableNow(s: SparkSession, src: String, ckpt: String,
                             out: String,
                             schema: org.apache.spark.sql.types.StructType,
                             globFilter: Option[String] = None): Unit = {
    val reader = s.readStream
      .schema(schema) // explicit: streaming sources must not infer
      .option("maxFilesPerTrigger", 4)
    // the file source wants a DIRECTORY; a glob filter narrows it to the
    // matching files (pruned at listing time)
    val q = globFilter.fold(reader)(g => reader.option("pathGlobFilter", g))
      .parquet(src)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The event_type → category static dimension. */
  def typeDim(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"))
      .toDF("event_type", "category")
  }

  // ---- true streaming variants (driven via MemoryStream + writeStream in
  // StructuredStreamingSpec; same shared transforms, now with watermarks) --

  /** STRM-1/4 streaming: watermarked tumbling agg — state for a window is
    * evicted once the watermark passes its end; rows later than the
    * watermark are dropped (the semantics strm4_late_data replays in
    * batch). */
  def tumblingAggStream(ev: DataFrame, watermark: String = "1 hour"): DataFrame =
    tumblingAgg(ev.withWatermark("event_ts", watermark))

  /** STRM-16 streaming: watermarked windowed quantiles — sketch state
    * accumulates across micro-batches and is dropped with the window. */
  def windowedQuantilesStream(ev: DataFrame, watermark: String = "1 hour"): DataFrame =
    windowedQuantiles(ev.withWatermark("event_ts", watermark))

  /** STRM-17 streaming: watermarked trending top-k — fixed k-counter
    * state per open window, emitted and dropped at watermark close. */
  def windowedTopKStream(ev: DataFrame, k: Int = 512,
                         watermark: String = "1 hour"): DataFrame =
    windowedTopK(ev.withWatermark("event_ts", watermark), k)

  /** STRM-5 streaming: exactly-once dedup with watermark-bounded state —
    * the dedup key state for event ids older than the watermark is dropped
    * (bounded memory at 100 TB/day stream rates). */
  def dedupByIdStream(ev: DataFrame, watermark: String = "1 hour"): DataFrame =
    ev.withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** STRM-6 streaming: latest-wins upsert maintained incrementally via
    * foreachBatch MERGE (SURVEY §2.9). Each micro-batch merges into the
    * versioned state store: union(previous state, batch-latest) →
    * latest-wins → commit as the next version. With Delta this would be a
    * real MERGE INTO; [[graft.operators.VersionedStore]] gives the same
    * atomicity — the new state becomes visible at one marker-file create,
    * so a concurrent reader never sees a half-written or empty table (the
    * failure window of the old read-merge-OVERWRITE two-step), and prior
    * versions stay readable for audit/rollback. */
  def runUpsertStream(s: SparkSession, ev: DataFrame, stateDir: String,
                      checkpointDir: String, retainVersions: Int = 24): Unit = {
    import graft.operators.VersionedStore
    val q = ev.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val batchLatest = latestByUser(batch)
        val merged =
          if (VersionedStore.latestVersion(stateDir).isDefined) {
            val prev = VersionedStore.read(spark, stateDir)
            val w = Window.partitionBy("user_id")
              .orderBy(col("last_us").desc, col("event_id").desc)
            prev.unionByName(batchLatest)
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn")
          } else batchLatest
        VersionedStore.commit(merged, stateDir)
        // retention bound: a long-running stream commits one snapshot per
        // micro-batch — without a vacuum the store grows without limit (and
        // a crash-replayed batch adds an extra version, so version counts
        // are only stable on clean runs; don't assert them elsewhere)
        VersionedStore.vacuum(stateDir, keep = retainVersions)
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Latest committed upsert state (the read side of [[runUpsertStream]]). */
  def upsertState(s: SparkSession, stateDir: String): DataFrame =
    graft.operators.VersionedStore.read(s, stateDir)

  /** STRM-19: streaming MATERIALIZED AGGREGATE VIEW over a CDC feed — the
    * streaming form of ivm1. Micro-batches carry change rows (insert /
    * delete / update_preimage / update_postimage, the changeFeed contract);
    * each batch maintains the stored (count, decimal-sum) aggregate through
    * [[graft.operators.Incremental.maintainSumCount]] and commits it as the
    * next store version. Unlike strm6/strm15 (append/upsert-only), this
    * absorbs streamed DELETEs and UPDATEs exactly: per batch the work is
    * churn-proportional (delta agg over the batch, merge join over changed
    * groups), history is never re-aggregated, and the decimal algebra keeps
    * the view bit-identical to a from-scratch aggregate of the net rows —
    * which is what the spec asserts across batches. */
  def runMaterializedAggStream(feed: DataFrame, stateDir: String,
                               checkpointDir: String, groupCol: String,
                               valueCol: String,
                               retainVersions: Int = 24): Unit = {
    import graft.operators.{Incremental, VersionedStore}
    val q = feed.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val old = VersionedStore.latestVersion(stateDir) match {
          case Some(_) => VersionedStore.read(spark, stateDir)
          case None => batch.select(col(groupCol)).limit(0)
            .withColumn("n", lit(0L))
            .withColumn("sum_dec", lit(0).cast("decimal(18,2)"))
        }
        // txn-tagged: foreachBatch is at-least-once — a crash-replayed
        // batchId would re-apply its delta to already-updated state and
        // double-count. The (appId, batchId) guard makes replay a no-op
        // (the strm15 discipline applied to the whole IVM ladder).
        VersionedStore.commitTxn(
          Incremental.maintainSumCount(old, batch, Seq(groupCol), valueCol),
          stateDir, txnAppId(stateDir), batchId)
        VersionedStore.vacuum(stateDir, keep = retainVersions)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Stable writer-app id for a materialized-view stream: derived from the
    * primary state dir, so a restarted stream resumes the same txn
    * sequence and replays dedupe, while two different views never collide. */
  def txnAppId(stateDir: String): String = s"graft-mv:$stateDir"

  /** STRM-20: streaming MATERIALIZED JOIN VIEW over a two-sided CDC feed —
    * the streaming form of ivm2, and the hard case STRM-19's aggregate
    * view dodges: a join view is not self-maintainable from the view
    * alone (a dim insert must resurrect fact rows the view never held),
    * so the maintained state is THREE stores — the view plus shadow
    * copies of both base tables. One tagged CDC stream carries both
    * sides (`tbl` ∈ {orders, customer}); each micro-batch splits it,
    * runs [[graft.operators.Incremental.maintainJoinView]] (broadcast-
    * only churn-proportional maintenance), then rolls the shadows
    * forward by the same keyed splice — base tables are never re-read,
    * history never re-joined. Every batch commits one atomic version per
    * store (vacuum-bounded), so the view time-travels per batch like
    * strm19's. */
  def runMaterializedJoinStream(feed: DataFrame, viewDir: String,
                                oDir: String, cDir: String,
                                checkpointDir: String,
                                retainVersions: Int = 24): Unit = {
    import graft.operators.{Incremental, VersionedStore}
    val q = feed.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val batch = batch0.localCheckpoint() // both splits scan it
        val oFeed = batch.filter(col("tbl") === "orders")
          .select("_change_type", "o_orderkey", "o_custkey", "o_totalprice")
        val cFeed = batch.filter(col("tbl") === "customer")
          .select("_change_type", "c_custkey", "c_mktsegment")
        def stored(dir: String, empty: => DataFrame): DataFrame =
          VersionedStore.latestVersion(dir) match {
            case Some(_) => VersionedStore.read(spark, dir)
            case None    => empty
          }
        val oOld = stored(oDir,
          oFeed.select("o_orderkey", "o_custkey", "o_totalprice").limit(0))
        val cOld = stored(cDir,
          cFeed.select("c_custkey", "c_mktsegment").limit(0))
        val vOld = stored(viewDir,
          oFeed.select("o_orderkey", "o_custkey", "o_totalprice").limit(0)
            .withColumn("c_mktsegment", lit(null).cast("string")))
        // txn-tagged per store (see runMaterializedAggStream): a crash
        // between the three commits leaves a torn prefix, and the replay
        // converges — each store's guard skips what it already applied,
        // and every store's new state depends only on ITS OWN old state
        // plus the batch (the view skip never feeds the shadow splices).
        VersionedStore.commitTxn(
          Incremental.maintainJoinView(vOld, oOld, oFeed, cFeed, cOld),
          viewDir, txnAppId(viewDir), batchId)
        // roll the shadow bases forward: (old ∖ Δ-keys) ∪ Δ_post — the
        // same splice maintainJoinView used for cNew, now persisted
        val post = col("_change_type").isin("insert", "update_postimage")
        VersionedStore.commitTxn(
          oOld.join(broadcast(oFeed.select("o_orderkey").distinct()),
              Seq("o_orderkey"), "left_anti")
            .unionByName(oFeed.filter(post)
              .select("o_orderkey", "o_custkey", "o_totalprice")),
          oDir, txnAppId(viewDir), batchId)
        VersionedStore.commitTxn(
          cOld.join(broadcast(cFeed.select("c_custkey").distinct()),
              Seq("c_custkey"), "left_anti")
            .unionByName(cFeed.filter(post)
              .select("c_custkey", "c_mktsegment")),
          cDir, txnAppId(viewDir), batchId)
        Seq(viewDir, oDir, cDir)
          .foreach(dir => VersionedStore.vacuum(dir, keep = retainVersions))
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** STRM-21: streaming MATERIALIZED TOP-K VIEW over a CDC feed — the
    * streaming form of ivm4, completing the IVM ladder (strm19 agg,
    * strm20 join, this top-k). Top-k is not self-maintainable (an
    * in-top-k delete needs the k+1-th member), so the state is TWO
    * stores: the view plus the full (group, member) score support table;
    * each micro-batch runs [[graft.operators.Incremental
    * .maintainTopKState]] (churn-proportional: only groups the batch
    * touched re-rank) and commits one atomic version of each
    * (vacuum-bounded, per-batch time travel). A successor promotion whose
    * member the view NEVER HELD — only the support knows it — works
    * across batch boundaries, which is what the spec pins. */
  def runMaterializedTopKStream(feed: DataFrame, viewDir: String,
                                supDir: String, checkpointDir: String,
                                groupCol: String, memberCol: String,
                                valueCol: String, k: Int,
                                retainVersions: Int = 24): Unit = {
    import graft.operators.{Incremental, VersionedStore}
    val q = feed.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        def stored(dir: String, empty: => DataFrame): DataFrame =
          VersionedStore.latestVersion(dir) match {
            case Some(_) => VersionedStore.read(spark, dir)
            case None    => empty
          }
        val emptySup = batch.select(col(groupCol), col(memberCol)).limit(0)
          .withColumn("n", lit(0L))
          .withColumn("sum_dec", lit(0).cast("decimal(18,2)"))
        val emptyView = emptySup.select(col(groupCol),
          lit(0).cast("int").as("rnk"), col(memberCol), col("sum_dec"))
        val (supNew, vNew) = Incremental.maintainTopKState(
          stored(viewDir, emptyView), stored(supDir, emptySup), batch,
          groupCol, memberCol, valueCol, k)
        // txn-tagged (see runMaterializedAggStream); on a torn replay the
        // support recomputes from ITS old state + the batch — never from
        // the already-updated view — so recovery is exact
        VersionedStore.commitTxn(vNew, viewDir, txnAppId(viewDir), batchId)
        VersionedStore.commitTxn(supNew, supDir, txnAppId(viewDir), batchId)
        Seq(viewDir, supDir)
          .foreach(dir => VersionedStore.vacuum(dir, keep = retainVersions))
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** STRM-15 per-batch body (exposed so the declared query and the spec can
    * simulate a crash-replay): merge this batch's per-user event counts
    * into the running totals and commit under (appId, batchId). Because the
    * merge ADDS to previous state, a replayed batch applied twice would
    * double-count — exactly what [[graft.operators.VersionedStore
    * .commitTxn]]'s in-marker transaction tag prevents: the replay returns
    * Left and the store is untouched. */
  def commitBatchCounts(batch: DataFrame, stateDir: String, appId: String,
                        batchId: Long): Either[Long, Long] = {
    import graft.operators.VersionedStore
    val spark = batch.sparkSession
    val bc = batch.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val merged = VersionedStore.latestVersion(stateDir) match {
      case Some(_) =>
        VersionedStore.read(spark, stateDir).unionByName(bc)
          .groupBy("user_id").agg(sum("n_events").as("n_events"))
      case None => bc
    }
    VersionedStore.commitTxn(merged, stateDir, appId, batchId)
  }

  /** STRM-15: exactly-once idempotent stream ingest. foreachBatch is
    * at-least-once — after a crash the last micro-batch REPLAYS with the
    * same batchId. Tagging each versioned-store commit with (appId,
    * batchId) inside the marker atom turns the replay into a no-op, which
    * is Structured Streaming's documented recipe for exactly-once
    * idempotent sinks (and Delta's txnAppId/txnVersion contract). */
  def runIdempotentIngest(ev: DataFrame, stateDir: String,
                          checkpointDir: String, appId: String): Unit = {
    val q = ev.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatchCounts(batch, stateDir, appId, batchId); ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** STRM-22 per-batch body: streaming IVF-PQ index maintenance. llm28d's
    * persisted index is train-once/serve-many; this is the ingest path a
    * live vector store needs (strm12 proved the shape for the MinHash band
    * index): per micro-batch, assign the new vectors to their IVF cells
    * (one broadcast of the nCells centroid table), PQ-encode them against
    * the STORED codebook (no retraining on the ingest path — the FAISS
    * add-to-index contract), upsert into the codes snapshot (latest wins
    * per vec_id — a re-embedded doc replaces its old codes via one
    * broadcast anti-join on the batch's ids), and commit cell-PARTITIONED
    * under the (appId, batchId) transaction tag — replays are no-ops
    * (strm15's exactly-once recipe) and the serve path's nprobe cell
    * filter prunes the version's hive-partitioned data dir exactly like
    * llm28d's static store. At 100 TB rates the batch work is
    * batch-sized (encode + anti-join probe against snapshot partitions);
    * the snapshot rewrite is the VersionedStore's full-copy semantics —
    * a Delta deploy appends per-cell files instead, same layout. */
  /** Pinned shape of the maintained codes snapshot (the llm28d probe
    * schema) — reads must not infer: an empty cell-partitioned commit has
    * no parquet footer. */
  private val CodesDdl = "vec_id long, sub int, code int, cell long"

  def ivfpqIngestBatch(batch: DataFrame, store: String, codesDir: String,
                       appId: String, batchId: Long,
                       m: Int = 8, dim: Int = 64): Either[Long, Long] = {
    import graft.operators.VersionedStore
    val s = batch.sparkSession
    // bin against the SERVED generation, not the bootstrap table: after a
    // committed retrain every new batch must land on cells the probe's
    // nprobe partition filter (computed from servedCentroids) can reach —
    // binning by stale centroids makes post-retrain vectors unreachable
    // at any nprobe < nCells. Falls back to the bootstrap centroids until
    // a manifest exists.
    val cents = servedCentroids(s, store)
    val cb = s.read.parquet(s"$store/codebook")
    val vecs = batch.select(col("vec_id"), col("embedding"))
    // pinned code-table shape (the llm28d probe schema): one row per
    // (vec_id, sub), keyed by the vector's cell
    def pin(df: DataFrame): DataFrame =
      df.select(col("vec_id").cast("long"), col("sub").cast("int"),
        col("code").cast("int"), col("cell").cast("long"))
    val codes = pin(graft.llm.LlmOps
      .pqEncodeLong(vecs, cb, m = m, dim = dim)
      .join(graft.llm.LlmOps.ivfAssignCells(vecs, cents), "vec_id"))
    val merged = VersionedStore.latestVersion(codesDir) match {
      case Some(_) =>
        pin(VersionedStore.read(s, codesDir, schema = Some(CodesDdl)))
          .join(broadcast(vecs.select("vec_id").distinct()),
            Seq("vec_id"), "left_anti")
          .unionByName(codes)
      case None => codes
    }
    // cluster by cell before the partitioned write: ONE file per cell per
    // commit instead of (tasks × cells) shards — the file-sizing
    // discipline sink14 documents, applied to the index snapshot (and at
    // test scale most of the former 8 s was exactly this shard storm)
    VersionedStore.commitTxn(merged.repartition(col("cell")), codesDir,
      appId, batchId, partitionBy = Seq("cell"))
  }

  // ---- STRM-22 drift-triggered retrain (r14) ------------------------------

  /** Hottest-cell share of the maintained codes snapshot, in ppm of total
    * rows — prof3's hot-share statistic applied to the index layout. Codes
    * are exactly m rows per vector, so row share == vector share. The
    * ready-made drift signal: ingest drift herds new vectors into few
    * cells, nprobe pruning degrades toward a scan of those cells, and this
    * one agg (map-side combined, nCells rows out) detects it. */
  def cellImbalancePpm(codes: DataFrame): Long =
    codes.groupBy("cell").agg(count(lit(1)).as("c"))
      .agg(coalesce(max("c"), lit(0L)).as("mx"),
        coalesce(sum("c"), lit(0L)).as("tot"))
      .select(when(col("tot") === 0L, lit(0L))
        .otherwise(expr("mx * 1000000 DIV tot")).as("ppm"))
      .collect()(0).getLong(0)

  /** Manifest store root: the tiny versioned pointer that names the SERVED
    * centroid generation (one row: gen, cents_dir). */
  private def manifestDir(store: String): String = s"$store/manifest"

  /** The centroid table the serve path should probe with: the latest
    * manifest generation if a retrain has committed one, else the
    * build-time `centroids/` dir. */
  def servedCentroids(s: org.apache.spark.sql.SparkSession,
                      store: String): DataFrame = {
    import graft.operators.VersionedStore
    VersionedStore.latestVersion(manifestDir(store)) match {
      case Some(_) =>
        val dir = VersionedStore.read(s, manifestDir(store),
          schema = Some("gen long, cents_dir string"))
          .orderBy(col("gen").desc).limit(1)
          .collect()(0).getString(1)
        // per-generation centroids are a versioned store (txn-tagged by
        // the retrain so a resume reuses the stored fit), not bare parquet
        VersionedStore.read(s, dir)
      case None => s.read.parquet(s"$store/centroids")
    }
  }

  /** Drift-triggered OFFLINE retrain of the IVF coarse quantizer (the
    * carried r12 #6 gap: without it the maintained index's recall decays
    * under distribution drift with no detection hook).
    *
    * Trigger: [[cellImbalancePpm]] ≥ `thresholdPpm` (default: one cell
    * holding half the index). Retrain re-fits centroids on the CURRENT
    * snapshot's vectors (ids from the codes store joined back to the raw
    * embedding source — codes don't carry raw vectors), RE-ASSIGNS every
    * vector's cell, and swaps the generation in via the versioned store:
    *
    *  1. the new centroid table lands in a per-generation VERSIONED
    *     store (`gen-<txn>/centroids`) under the retrain's txn tag, and
    *     every later step derives from the STORED bytes — a resumed
    *     retrain reuses the committed fit instead of refitting (the
    *     snapshot may have advanced since the crash, so a refit could
    *     produce centroids that mismatch an already-committed step-2
    *     reassignment);
    *  2. the cell-reassigned codes commit to the SAME codes store under
    *     txn tag (`appId`-retrain, txn) — PQ codes are untouched (the
    *     codebook is cell-independent in the non-residual layout), so
    *     this rewrites one long column, not the quantization;
    *  3. a one-row manifest commit flips the served-centroids pointer.
    *
    * Each step is idempotent under its txn tag, and a crash mid-sequence
    * is healed by ANY later call (not just a replay of the same txnId):
    * a half-applied swap is detected by comparing the codes and manifest
    * txn ledgers, late-ingested rows binned by the then-served old
    * generation are reconciled against the stored generation fit (a
    * checked, resume-only scan committed under a sibling app id — the
    * original codes tag would replay-skip), and the manifest flip then
    * completes. No lost ingest: the snapshot is re-read HERE (not at
    * detection time), retrain runs serialized in the single maintenance
    * writer (the foreachBatch thread's discipline), and post-swap
    * batches bin against [[servedCentroids]] so they land on cells the
    * probe's partition filter reaches. Ingest txn tags live in the same
    * marker history, untouched by the retrain's own appId — a
    * crash-replay of a pre-swap batch is still a no-op after the swap
    * (StructuredStreamingSpec pins it).
    *
    * Returns Left(imbalance ppm) when below threshold (one cheap agg, no
    * retrain), Right(generation) after a committed swap. */
  def maybeRetrainIvfpq(s: org.apache.spark.sql.SparkSession, store: String,
                        codesDir: String, corpus: DataFrame, appId: String,
                        txnId: Long, thresholdPpm: Long = 500000L,
                        m: Int = 8, dim: Int = 64): Either[Long, Long] = {
    import graft.operators.VersionedStore
    val codes = VersionedStore.read(s, codesDir, schema = Some(CodesDdl))
    // Crash-resume guard: if a prior attempt of THIS retrain already
    // committed the reassigned codes (step 2) but died before the manifest
    // flip (step 3), the snapshot is already balanced — re-running the
    // imbalance gate would return Left and strand the swap half-applied
    // (probes would pair old-generation centroids with new assignments,
    // silently collapsing recall). The codes-store txn tag is the durable
    // record of how far the sequence got: when it says step 2 landed,
    // skip the gate and fall through to the idempotent steps.
    val retrainApp = s"$appId-retrain"
    // A HALF-APPLIED swap — codes reassigned under some txn C but the
    // manifest still older — must be completed no matter what txnId THIS
    // call carries: a later drift check (higher txnId) would otherwise
    // run the imbalance gate on the already-balanced snapshot, return
    // Left, and strand the serve path on old centroids against new cell
    // assignments forever. Detection compares the two txn ledgers, not
    // the caller's argument.
    val lastCodes = VersionedStore.lastTxn(codesDir, retrainApp)
    val lastManifest =
      VersionedStore.lastTxn(manifestDir(store), retrainApp)
    val pendingSwap = lastCodes.filter(c => lastManifest.forall(_ < c))
    if (pendingSwap.isDefined) {
      val c = pendingSwap.get
      val gdirC = s"$store/gen-$c/centroids" // committed before the codes
      val cents = VersionedStore.read(s, gdirC).localCheckpoint()
      // RECONCILE before the flip: any batch ingested between the crash
      // and this resume was binned by the then-served (old) generation;
      // the original (retrainApp, c) codes tag would replay-skip a
      // re-commit, so inconsistent rows are fixed under a sibling app id
      // that carries the swap's OWN identity (`-fix-$c`): fix ledgers of
      // different swaps can never interfere (a txn counter recorded by
      // swap c must not replay-skip a real fix needed by swap c' — the
      // shared-app-id hazard), while WITHIN one swap the snapshot-version
      // txn still lets a second resume re-fix after more ingest lands
      // (each ingest commit bumps latestVersion past the recorded tag).
      // Checked, not assumed — the stale scan is resume-only.
      val snap = VersionedStore.read(s, codesDir, schema = Some(CodesDdl))
      requireCorpusCovers(corpus, snap, "retrain resume")
      val vecsAll = corpus.select(col("vec_id"), col("embedding"))
        .join(snap.select("vec_id").distinct(), "vec_id")
      // one assignment scan feeds both the stale probe and the fix write
      val want = graft.llm.LlmOps.ivfAssignCells(vecsAll, cents)
        .withColumnRenamed("cell", "want").localCheckpoint()
      val stale = snap.join(want, "vec_id")
        .filter(col("cell") =!= col("want")).limit(1).count() > 0
      if (stale) {
        val fixed = snap.drop("cell")
          .join(want.withColumnRenamed("want", "cell"), "vec_id")
          .select(col("vec_id").cast("long"), col("sub").cast("int"),
            col("code").cast("int"), col("cell").cast("long"))
        VersionedStore.commitTxn(fixed.repartition(col("cell")), codesDir,
          s"$retrainApp-fix-$c",
          VersionedStore.latestVersion(codesDir).getOrElse(0L),
          partitionBy = Seq("cell"))
      }
      import s.implicits._
      VersionedStore.commitTxn(
        Seq((c, gdirC)).toDF("gen", "cents_dir"),
        manifestDir(store), retrainApp, c)
      return Right(c)
    }
    maybeRetrainGated(s, store, codesDir, corpus, appId, txnId,
      thresholdPpm, codes, lastCodes)
  }

  /** Retrain/reconcile rebuild the codes snapshot through an INNER join
    * to `corpus` — any indexed vec_id missing from the corpus would be
    * silently DELETED from the index (and invisible to the stale probe).
    * Codes don't carry raw vectors, so a missing embedding is
    * unreassignable; the only safe posture is to refuse loudly. One
    * anti-join count, retrain-only. */
  private def requireCorpusCovers(corpus: DataFrame, codes: DataFrame,
                                  what: String): Unit = {
    val missing = codes.select("vec_id").distinct()
      .join(corpus.select("vec_id"), Seq("vec_id"), "left_anti")
      .limit(5).collect().map(_.getLong(0))
    require(missing.isEmpty,
      s"$what: corpus is missing embeddings for indexed vec_ids " +
        s"${missing.mkString(",")}… — reassignment would silently drop " +
        "them from the index; pass the full embedding source")
  }

  /** The gate-and-swap half of [[maybeRetrainIvfpq]] (split so the
    * pending-swap completion above can early-return cleanly). */
  private def maybeRetrainGated(s: org.apache.spark.sql.SparkSession,
      store: String, codesDir: String, corpus: DataFrame, appId: String,
      txnId: Long, thresholdPpm: Long, codes: DataFrame,
      lastCodes: Option[Long]): Either[Long, Long] = {
    import graft.operators.VersionedStore
    val retrainApp = s"$appId-retrain"
    // Out-of-order maintenance no-op: a STRICTLY newer retrain already
    // committed its codes — and, because the pending-swap probe upstream
    // found nothing, its manifest flip landed too. Replaying an OLDER
    // txnId must not touch the store at all: falling through would scan
    // the corpus (requireCorpusCovers) and, if gen-<txnId> never existed,
    // fit and commit a stale centroid generation beside the served one.
    // Report the generation actually in service and return.
    val newerApplied = lastCodes.filter(_ > txnId)
    if (newerApplied.isDefined) return Right(newerApplied.get)
    val alreadyApplied = lastCodes.contains(txnId)
    val ppm = if (alreadyApplied) -1L else cellImbalancePpm(codes)
    if (!alreadyApplied && ppm < thresholdPpm) Left(ppm)
    else {
      requireCorpusCovers(corpus, codes, "retrain")
      val gdir = s"$store/gen-$txnId/centroids"
      // Step 1 — centroids land as a txn-tagged VERSIONED commit, and
      // every later step derives from the STORED bytes, never from this
      // attempt's fit: a resumed retrain must not refit on the current
      // snapshot (an ingest batch may have landed since the crashed
      // attempt → different centroids than the ones the already-committed
      // step-2 reassignment used → served centroids mismatching stored
      // cells, the silent recall collapse this guard exists to prevent).
      // On replay the tag short-circuits the fit entirely.
      val ids = codes.select("vec_id").distinct()
      // checkpoint the join ONCE: ivfCentroids consumes vecs for its
      // auto-scale count plus one crossJoin per Lloyd round, and the
      // step-2 reassignment scans it again — uncheckpointed, each of
      // those would re-execute the corpus⋈ids join
      val vecs = corpus.select(col("vec_id"), col("embedding"))
        .join(ids, "vec_id").localCheckpoint()
      if (VersionedStore.lastTxn(gdir, retrainApp).forall(_ < txnId))
        VersionedStore.commitTxn(
          graft.llm.LlmOps.ivfCentroids(vecs), gdir, retrainApp, txnId)
      // Step 2 — reassignment computed against the stored generation
      val cents = VersionedStore.read(s, gdir).localCheckpoint()
      val reassigned = codes.drop("cell")
        .join(graft.llm.LlmOps.ivfAssignCells(vecs, cents), "vec_id")
        .select(col("vec_id").cast("long"), col("sub").cast("int"),
          col("code").cast("int"), col("cell").cast("long"))
      VersionedStore.commitTxn(reassigned.repartition(col("cell")),
        codesDir, retrainApp, txnId, partitionBy = Seq("cell"))
      import s.implicits._
      VersionedStore.commitTxn(
        Seq((txnId, gdir)).toDF("gen", "cents_dir"),
        manifestDir(store), retrainApp, txnId)
      Right(txnId)
    }
  }

  /** STRM-22 driver: drain `vectors` (a streaming frame of (vec_id,
    * embedding)) through [[ivfpqIngestBatch]] micro-batches. */
  def runIvfpqIngestStream(vectors: DataFrame, store: String,
                           codesDir: String, checkpointDir: String,
                           appId: String, m: Int = 8, dim: Int = 64): Unit = {
    val q = vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ivfpqIngestBatch(batch, store, codesDir, appId, batchId, m, dim); ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Memoized MAINTAINED IVF-PQ index over the embeddings of `d`
    * ([[graft.StageMemo]]): the full strm22 ingest pipeline — train-once
    * bootstrap (vec_id%4==0), 2-file AvailableNow micro-batch ingest of
    * the rest, a SIMULATED crash-replay of the last batch (asserted a
    * txn-tag no-op), and the drift-retrain hook — run ONCE per (session,
    * sf-dir). Returns (store, codesDir). strm22 probes this snapshot and
    * strm22b audits it: one maintained index serving both declared
    * queries, the production shape (an audit inspects THE index the
    * ingest maintains, not a private rebuild), and half the bench's
    * former cost — the pipeline is bit-deterministic given the memoized
    * centroids/codebook, so sharing changes nothing observable.
    * Cross-batch/replay/upsert semantics are pinned per-function by
    * StructuredStreamingSpec on its own fixtures. */
  private[graft] def memoMaintainedIndex(
      s: org.apache.spark.sql.SparkSession, d: String): (String, String) =
    graft.StageMemo.value(s, s"strm22.maintained.$d") {
      import graft.operators.VersionedStore
      val tmp = graft.TmpStores.scratch("strm22")
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val hist = e.filter(col("vec_id") % 4 === 0 && col("vec_id") =!= 0)
      val arrivals = e.filter(col("vec_id") % 4 =!= 0 && col("vec_id") =!= 0)
      val store = s"$tmp/store"
      // training artifacts from the llm28-family memo (identical recipe,
      // bit-deterministic) — the bench's median-of-3 re-runs then time
      // the INGEST pipeline, not a k-means retrain per run
      graft.llm.LlmOps.ivfpqBuild(train = e, index = hist, store = store,
        cents0 = Some(graft.llm.LlmOps.memoIvfCentroids(s, d)),
        codebook0 = Some(graft.llm.LlmOps.memoCodebook(s, d, 8)))
      val codesDir = s"$tmp/codes"
      // seed the maintained snapshot with the bootstrap codes (distinct
      // appId so the stream's replay guard only sees its own batches);
      // pinned schemas throughout — an empty lake writes footer-less dirs
      VersionedStore.commitTxn(
        s.read.schema(CodesDdl).parquet(s"$store/codes"),
        codesDir, "strm22-bootstrap", 0L, partitionBy = Seq("cell"))
      val src = s"$tmp/src"
      arrivals.repartition(2).write.parquet(src)
      runIvfpqIngestStream(
        s.readStream.schema(arrivals.schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        store, codesDir, s"$tmp/ckpt", appId = "strm22")
      VersionedStore.lastTxn(codesDir, "strm22").foreach { last =>
        val replay = ivfpqIngestBatch(s.read.parquet(src), store, codesDir,
          "strm22", batchId = last)
        require(replay.isLeft,
          s"replayed batch $last must be skipped, got $replay")
      }
      // drift check after the drain (r14): one cheap agg on the uniform
      // corpus stays below threshold — the HOOK is exercised every run,
      // the retrain itself is pinned by the spec's skewed fixture
      maybeRetrainIvfpq(s, store, codesDir, e, "strm22", txnId = 1L)
      (store, codesDir)
    }

  /** JOIN-9 streaming: stream-stream interval join — click events joined to
    * purchase events of the same user within [0, 30 min) after the click.
    * Both sides watermarked so the join state is evicted once the range
    * can no longer match (bounded state at 100 TB/day rates). */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("event_ts", "1 hour")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("event_ts").as("click_ts"))
    val p = purchases.withWatermark("event_ts", "1 hour")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select("user_id", "click_id", "purchase_id")
  }

  /** STRM-13: stream-stream LEFT OUTER interval join — every click emits,
    * matched or not. The engine can only declare a click unmatched once no
    * future purchase could still join it, so the null row is emitted when
    * the purchase-side WATERMARK passes click_ts + 30 min; until then the
    * click sits in join state. Same eviction bound as the inner join —
    * state never outlives watermark + interval, so memory is bounded at
    * 100 TB/day rates — outer rows just ride the eviction event.
    * (Funnel analytics: the unmatched clicks ARE the abandonment signal.) */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("event_ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("event_ts").as("click_ts"))
    val p = purchases.withWatermark("event_ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("purchase_id").isNotNull.as("converted"))
  }

  /** Typed input/state/output for the custom-state operator below. */
  case class UserEvent(user_id: Long, event_id: Long, ts_us: Long)
  case class UserState(n: Long, last_us: Long)
  case class UserCounts(user_id: Long, n: Long, last_us: Long)

  /** STRM-5/SURVEY §2.9 custom state: running per-user event counts via
    * `flatMapGroupsWithState` — arbitrary per-key state the built-in
    * windowed aggs can't express (the KeyValueGroupedDataset path the
    * north-star brief names). State is one small struct per user; at 100 TB
    * stream rates bound it with a timeout (NoTimeout here — the spec
    * drives finite input; production sets EventTimeTimeout + watermark). */
  def userRunningCounts(ev: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[UserCounts] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserCounts](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[UserEvent],
         state: org.apache.spark.sql.streaming.GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          var n = prev.n
          var last = prev.last_us
          rows.foreach { r =>
            n += 1
            if (r.ts_us > last) last = r.ts_us
          }
          state.update(UserState(n, last))
          Iterator(UserCounts(uid, n, last))
      }
  }

  /** STRM-18: the SAME running counts on Spark 4's transformWithState —
    * the arbitrary-state API v2 that supersedes flatMapGroupsWithState:
    * named, individually-typed state slots (`ValueState` here; List/Map
    * state and timers in the same handle) instead of one opaque state
    * object, explicit `TimeMode`, and a RocksDB-backed store (TWS
    * requires the RocksDB provider — the spec sets it; at 100 TB that is
    * also the right provider: state spills off-heap instead of living on
    * the executor heap). Output parity with STRM-8 is pinned by the
    * spec: same input → identical emitted rows. */
  def userRunningCountsTws(ev: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[UserCounts] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .transformWithState(new RunningCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** UserEvent + its event-time column (needed for EventTimeTimeout). */
  case class TimedUserEvent(user_id: Long, event_id: Long, ts_us: Long,
                            event_ts: java.sql.Timestamp)

  /** [[userRunningCounts]] with a real state TTL: watermarked input +
    * EventTimeTimeout. When the watermark passes last_event + ttl the
    * per-user state is REMOVED — the bounded-memory configuration for an
    * unbounded key space (the "production sets EventTimeTimeout" path;
    * StructuredStreamingSpec proves counts restart after eviction). */
  def userRunningCountsTtl(ev: DataFrame, watermark: String,
                           ttlMinutes: Int)
      : org.apache.spark.sql.Dataset[UserCounts] = {
    val s = ev.sparkSession
    import s.implicits._
    val typed = ev
      .withWatermark("event_ts", watermark)
      .selectExpr("user_id", "event_id", "ts div 1000 AS ts_us", "event_ts")
      .as[TimedUserEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserCounts](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[TimedUserEvent],
         state: org.apache.spark.sql.streaming.GroupState[UserState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserState(0L, 0L))
            var n = prev.n
            var last = prev.last_us
            rows.foreach { r =>
              n += 1
              if (r.ts_us > last) last = r.ts_us
            }
            state.update(UserState(n, last))
            // evict once the watermark passes last event + ttl (ms epoch)
            state.setTimeoutTimestamp(last / 1000L + ttlMinutes * 60000L)
            Iterator(UserCounts(uid, n, last))
          }
      }
  }

  /** Latest event per user within a frame (shared by batch strm6 + the
    * foreachBatch upsert). */
  def latestByUser(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    ev.withColumn("ts_us", expr("ts div 1000"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type").as("last_type"),
        col("value").as("last_value"), col("ts_us").as("last_us"))
  }

  // ---- declared batch-replay queries -------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "strm1_tumbling" -> ((s, d) =>
      tumblingAgg(withEventTs(Tables.events(s, d)))
        .orderBy("ws_us", "event_type")),

    "strm2_sliding" -> ((s, d) =>
      slidingAgg(withEventTs(Tables.events(s, d)))
        .orderBy("ws_us")),

    "strm3_session" -> ((s, d) =>
      sessionAgg(withEventTs(Tables.events(s, d)))
        .orderBy("user_id", "sess_start_us")),

    // STRM-4: late-data detection — events arriving (event_id order) more
    // than 1 h behind the running max event time, i.e. exactly the rows a
    // 1 h watermark would drop. The running max is computed in two levels so
    // no window spans the whole table (VERDICT r02 #7): a per-bucket window
    // (partitioned → parallel) + a cumulative max over the per-bucket maxima
    // (a tiny aggregate, broadcast back). max over event_id<i ==
    // greatest(prev buckets' max, running max within this bucket).
    "strm4_late_data" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("bucket", expr("event_id div 4096"))
      val wIn = Window.partitionBy("bucket").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wBuckets = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val prevBucketMax = e.groupBy("bucket").agg(max("ts_us").as("bmax"))
        .withColumn("prev_bmax", max(col("bmax")).over(wBuckets))
        .select("bucket", "prev_bmax")
      e.join(broadcast(prevBucketMax), "bucket")
        .withColumn("max_seen_us",
          greatest(max(col("ts_us")).over(wIn), col("prev_bmax")))
        .filter(col("ts_us") < col("max_seen_us") - 3600000000L)
        .select("event_id", "ts_us", "max_seen_us")
        .orderBy("event_id")
    }),

    // STRM-5: stateful dedup — replay the stream twice (at-least-once
    // delivery), dedup must restore exactly-once counts.
    "strm5_dedup" -> ((s, d) => {
      val e = Tables.events(s, d).drop("event_ts")
      dedupById(e.unionByName(e))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // STRM-6: ordered-log apply, latest-wins upsert keyed by user
    // (the reference's import step, pseudoace.py:98-110)
    "strm6_upsert_latest" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      e.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("ts_us").as("last_us"))
        .orderBy("user_id")
    }),

    "strm7_stream_static_join" -> ((s, d) =>
      enrich(Tables.events(s, d), typeDim(s))
        .groupBy("category")
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
        .orderBy("category")),

    // STRM-11 batch replay: docs with doc_id%4==0 are the historical
    // corpus, the rest arrive as the "stream". The count of surviving
    // (new-content) documents is deterministic even though dropDuplicates
    // picks an arbitrary representative per hash — the surviving HASH SET
    // is unique. Oracle equates hash-distinct with text-distinct (sha256
    // collision-free on any real corpus; same contract as llm1).
    "strm11_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.filter(col("doc_id") % 4 === 0)
        .select(sha2(col("text").cast("binary"), 256).as("h")).distinct()
      dedupAgainstCorpus(docs.filter(col("doc_id") % 4 =!= 0), history)
        .agg(count(lit(1)).as("n_new_docs"))
    }),

    // STRM-12 batch replay: history (doc_id%4==0) is the indexed corpus,
    // the rest arrive — exact-verified cross-set LSH pairs. With this
    // corpus's bimodal Jaccard (llm2's argument: P(LSH miss at J=0.8)
    // ~ 5e-8), the LSH candidate set verified exactly equals the exact
    // cross-set Jaccard oracle.
    "strm12_neardup_ingest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.llm.LlmOps.minhashCrossPairs(
          docs.filter(col("doc_id") % 4 === 0),
          docs.filter(col("doc_id") % 4 =!= 0), threshold = 0.8)
        .orderBy("hist_id", "new_id")
    }),

    // STRM-14: a TRUE file-source stream in the declared query — the events
    // parquet is drained through a checkpointed AvailableNow stream into a
    // scratch dir, and the aggregate over the ingested copy must match the
    // oracle's direct read. Fresh temp dirs per call: the query is about
    // ingest correctness, not resume (the spec covers resume).
    "strm14_file_ingest" -> ((s, d) => {
      val tmp = graft.TmpStores.scratch("strm14")
      val schema = s.read.parquet(s"$d/events.parquet").schema
      fileIngestAvailableNow(s, d, s"$tmp/ckpt", s"$tmp/out", schema,
        globFilter = Some("events.parquet"))
      s.read.schema(schema).parquet(s"$tmp/out")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // STRM-15: exactly-once idempotent ingest — the events table split into
    // 4 files streams in as 4 micro-batches (maxFilesPerTrigger=1), each
    // batch ADDING its per-user counts to the versioned running totals
    // under an (appId, batchId) transaction tag. Then a crash-replay of the
    // last batch is SIMULATED by re-applying batchId 3 over the full
    // source: a non-idempotent sink would double-count and hash-mismatch
    // the oracle (plain per-user COUNT(*)); the txn tag makes it a no-op.
    "strm15_idempotent_ingest" -> ((s, d) => {
      import graft.operators.VersionedStore
      // r22: the 4-file SOURCE fixture is setup, not the ingest under
      // test — written once per (session, sf-dir) like every other
      // fixture memo (cost in the memo ledger), into its own scratch dir
      // allocated at first build (the join14 discipline). The store +
      // checkpoint stay per-call scratch dirs: each run's stream must
      // ingest all 4 batches into a FRESH store for the replay-idempotence
      // proof.
      val src = graft.StageMemo.value(s, s"strm15.src.$d") {
        val p = graft.TmpStores.scratch("strm15_src")
        Tables.events(s, d).select("user_id", "event_id")
          .repartition(4).write.parquet(p)
        p
      }
      val schema = s.read.parquet(src).schema
      val tmp = graft.TmpStores.scratch("strm15")
      runIdempotentIngest(
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(src),
        s"$tmp/store", s"$tmp/ckpt", appId = "strm15")
      // replay whatever batch ACTUALLY committed last (= 3 with the 4-file
      // source; an EMPTY source commits no batch, so there is nothing to
      // replay and the store is legitimately version-less)
      VersionedStore.lastTxn(s"$tmp/store", "strm15") match {
        case Some(last) =>
          val replay = commitBatchCounts(
            s.read.parquet(src), s"$tmp/store", "strm15", batchId = last)
          require(replay.isLeft,
            s"replayed batch $last must be skipped, got $replay")
          VersionedStore.read(s, s"$tmp/store").orderBy("user_id")
        case None =>
          import s.implicits._
          Seq.empty[(Long, Long)].toDF("user_id", "n_events")
      }
    }),

    // STRM-22 batch-replay ⚠: the embeddings corpus split — vec_id%4==0
    // bootstraps the persisted IVF-PQ index (train-once), the rest arrive
    // as a 2-file stream and are cell-assigned + PQ-encoded into the
    // versioned codes snapshot per micro-batch; a crash-replay of the
    // last batch is then SIMULATED and must be a txn-tag no-op. Output:
    // the probe of the MAINTAINED snapshot for query vec 0 (exact re-rank
    // over the ADC shortlist). Approximate retrieval → no SQL oracle;
    // StructuredStreamingSpec pins cross-batch retrievability, bit parity
    // with a full rebuild, and the replay guard. The ingest pipeline is
    // the [[memoMaintainedIndex]] stage shared with strm22b's audit.
    "strm22_ivfpq_ingest" -> ((s, d) => {
      import graft.operators.VersionedStore
      val (store, codesDir) = memoMaintainedIndex(s, d)
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      graft.llm.LlmOps.ivfpqProbe(e.filter(col("vec_id") === 0), e, store,
        codes0 = Some(VersionedStore.read(s, codesDir,
          schema = Some(CodesDdl))),
        cents0 = Some(servedCentroids(s, store)))
    }),

    // STRM-22b batch-replay: codes-table AUDIT of the strm22 pipeline —
    // the hash-checkable half of the streaming index (VERDICT r14 #6).
    // The probe's top-k is the approximate part; the MAINTAINED snapshot
    // itself obeys exact invariants independent of what k-means learned:
    // after bootstrap + the micro-batch drain + replay no-op, EVERY
    // corpus vector (vec 0 is the held-out query) carries exactly m=8
    // sub-codes, each code in [0,16), all 8 riding ONE cell — i.e. the
    // stream lost nothing, double-applied nothing, and encoded fully.
    // DuckDB replays the contract, not the training: 8/8/1/true per
    // vec_id straight off the embeddings table. Audits the SAME
    // [[memoMaintainedIndex]] snapshot strm22 serves from — an index
    // audit inspects the production index, not a private rebuild.
    "strm22b_ivfpq_codes_audit" -> ((s, d) => {
      import graft.operators.VersionedStore
      val (_, codesDir) = memoMaintainedIndex(s, d)
      VersionedStore.read(s, codesDir, schema = Some(CodesDdl))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_codes"),
          countDistinct(col("sub")).as("n_subs"),
          countDistinct(col("cell")).as("n_cells"),
          min(col("code") >= 0 && col("code") < 16).as("codes_in_range"))
        .orderBy("vec_id")
    }),

    // STRM-22c: the strm22 probe with an EXACT DuckDB oracle (llm28g's
    // replay pointed at the STREAMING-MAINTAINED snapshot): the served
    // centroid generation, the stored codebook, and the VersionedStore
    // codes snapshot are dumped once to a stable path, the probe serves
    // from those exact frames, and the oracle replays the full ADC →
    // shortlist → re-rank contract off the dumped bytes. strm22b audits
    // WHAT the stream stored (completeness); this audits what a probe
    // DOES with it — together the streaming index is hash-checked end to
    // end, training excepted.
    "strm22c_probe_audit" -> ((s, d) => {
      import graft.operators.VersionedStore
      val (store, codesDir) = memoMaintainedIndex(s, d)
      val out = graft.StageMemo.value(s, s"strm22c.dump.$d") {
        val o = graft.OracleArtifacts.record("strm22_served", d)
        servedCentroids(s, store).coalesce(1)
          .write.mode("overwrite").parquet(s"$o/centroids")
        s.read.parquet(s"$store/codebook").coalesce(1)
          .write.mode("overwrite").parquet(s"$o/codebook")
        VersionedStore.read(s, codesDir, schema = Some(CodesDdl)).coalesce(1)
          .write.mode("overwrite").parquet(s"$o/codes")
        o
      }
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      // store = the DUMP dir: all THREE frames the probe touches
      // (centroids, codebook, codes) come from the dumped bytes the
      // oracle replays — reading the codebook from the live store would
      // silently unpin one of the three if a retrain ever refit PQ
      graft.llm.LlmOps.ivfpqProbe(e.filter(col("vec_id") === 0), e, out)
    }),

    // STRM-16 batch-replay: same windowedQuantiles transform the
    // MemoryStream spec drives incrementally; hash-matches (agg23/24
    // bucket protocol, zero bucket = Long.MinValue sentinel)
    "strm16_windowed_quantiles" -> ((s, d) =>
      windowedQuantiles(withEventTs(Tables.events(s, d)))
        .orderBy("ws_us")),

    // STRM-17 batch-replay: gate k=512 ≥ every window's user cardinality
    // at all SFs (max 166 at sf0.1) → the summary is provably exact and
    // the oracle hash-matches a plain top-5-per-window
    "strm17_windowed_topk" -> ((s, d) =>
      windowedTopK(withEventTs(Tables.events(s, d)))
        .orderBy("ws_us", "rank")),

    "strm3b_dynamic_session" -> ((s, d) =>
      dynamicSessionAgg(withEventTs(Tables.events(s, d)))
        .orderBy("user_id", "sess_start_us")),

    // STRM-23 batch replay: per-hour PSI of the value distribution vs the
    // whole lake's reference histogram — the drift MONITOR (llm30 is the
    // one-shot statistic; this is its streaming-shaped deployment: state
    // half = watermarked window×bucket counts, stateless PSI finisher on
    // closed windows). Exact DuckDB oracle via llm30's smoothing/decimal
    // protocol over the full window×bucket grid.
    "strm23_drift_monitor" -> ((s, d) => {
      val ev = withEventTs(Tables.events(s, d))
      val ref = ev.filter(col("value").isNotNull)
        .groupBy(greatest(least(floor(col("value") / lit(10.0)), lit(9L)),
            lit(0L)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("rc"))
      driftPsiFromCounts(s, windowedBucketCounts(ev), ref)
    })
  )

  def oracle: Map[String, String] = Map(
    // distinct new texts among arrivals not already in the history set
    "strm11_incremental_dedup" ->
      """WITH hist AS (
        |  SELECT DISTINCT text FROM documents WHERE doc_id % 4 = 0),
        |inc AS (
        |  SELECT DISTINCT text FROM documents WHERE doc_id % 4 <> 0)
        |SELECT count(*) AS n_new_docs FROM inc
        |WHERE text NOT IN (SELECT text FROM hist)""".stripMargin,

    // exact cross-set 3-gram Jaccard: one side history, one side arrivals
    "strm12_neardup_ingest" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        for i in range(1, len(w) - 1)]) AS ws
        |       FROM d WHERE len(w) >= 3)
        |SELECT h.doc_id AS hist_id, n.doc_id AS new_id,
        |  CAST(len(list_intersect(h.ws, n.ws)) AS DOUBLE) /
        |    len(list_distinct(list_concat(h.ws, n.ws))) AS jaccard
        |FROM sh h, sh n
        |WHERE h.doc_id % 4 = 0 AND n.doc_id % 4 <> 0
        |  AND CAST(len(list_intersect(h.ws, n.ws)) AS DOUBLE) /
        |        len(list_distinct(list_concat(h.ws, n.ws))) >= 0.8
        |ORDER BY hist_id, new_id""".stripMargin,

    "strm14_file_ingest" ->
      s"""SELECT event_type, count(*) AS n, ${Det.dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // exactly-once proof: totals must equal a plain batch count — a
    // double-applied replay batch would inflate them
    "strm15_idempotent_ingest" ->
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // llm28g's full serve replay pointed at the DUMPED streaming
    // snapshot: probe cells off the served centroid generation, ADC LUT
    // off the stored codebook, decimal ADC over the maintained codes,
    // shortlist, exact re-rank — what a probe DOES with the stream's
    // index, complementing strm22b's what-was-stored audit
    "strm22c_probe_audit" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe
        |           FROM embeddings WHERE vec_id = 0),
        |cents AS (
        |  SELECT cent_id, cent::DOUBLE[] AS c
        |  FROM '${graft.OracleArtifacts.path("strm22_served")}/centroids/*.parquet'),
        |cd AS (SELECT cent_id,
        |         list_transform(list_zip(c, (SELECT qe FROM q)),
        |                        x -> x[1] - x[2]) AS dv
        |       FROM cents),
        |pc AS (SELECT cent_id, row_number() OVER (
        |         ORDER BY list_dot_product(dv, dv), cent_id) AS rn
        |       FROM cd),
        |probed AS (SELECT cent_id FROM pc WHERE rn <= 8),
        |cb AS (
        |  SELECT sub, cent_id AS code, cent::DOUBLE[] AS cc
        |  FROM '${graft.OracleArtifacts.path("strm22_served")}/codebook/*.parquet'),
        |lutd AS (SELECT sub, code,
        |           list_transform(list_zip(cc,
        |             (SELECT qe FROM q)[sub*8+1 : sub*8+8]),
        |             x -> x[1] - x[2]) AS dv
        |         FROM cb),
        |lut AS (SELECT sub, code, list_dot_product(dv, dv) AS pdist
        |        FROM lutd),
        |codes AS (SELECT * FROM
        |  '${graft.OracleArtifacts.path("strm22_served")}/codes/*.parquet'),
        |sl AS (SELECT codes.vec_id,
        |         SUM(CAST(lut.pdist AS DECIMAL(28,12))) AS adc
        |       FROM codes JOIN probed ON codes.cell = probed.cent_id
        |            JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
        |       GROUP BY codes.vec_id
        |       ORDER BY adc, codes.vec_id LIMIT 200),
        |rrd AS (SELECT e.vec_id,
        |          list_transform(list_zip(e.embedding::DOUBLE[],
        |                                  (SELECT qe FROM q)),
        |                         x -> x[1] - x[2]) AS dv
        |        FROM embeddings e JOIN sl USING (vec_id))
        |SELECT vec_id, round(list_dot_product(dv, dv), 6) AS l2_dist
        |FROM rrd ORDER BY l2_dist, vec_id LIMIT 20""".stripMargin,

    // streaming-index completeness contract (training-independent): every
    // non-query vector fully PQ-encoded exactly once — m=8 sub-codes in
    // [0,16) on a single cell. A dropped batch breaks n_codes, a
    // double-applied replay inflates it, a cross-generation mix breaks
    // n_cells.
    "strm22b_ivfpq_codes_audit" ->
      """SELECT vec_id, CAST(8 AS BIGINT) AS n_codes,
        |  CAST(8 AS BIGINT) AS n_subs, CAST(1 AS BIGINT) AS n_cells,
        |  true AS codes_in_range
        |FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id""".stripMargin,

    // replicates the deterministic DDSketch protocol (see agg23/agg24 in
    // Relational.scala) per 1-hour tumbling window
    // llm30's smoothed-PSI protocol per hour window over the FULL
    // window×bucket grid (absent buckets contribute their +0.5 term)
    "strm23_drift_monitor" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us,
        |    GREATEST(LEAST(CAST(FLOOR(value / 10.0) AS BIGINT), 9), 0)
        |      AS bucket
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT ws_us, bucket, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |ref AS (SELECT bucket, COUNT(*) AS rc FROM e GROUP BY 1),
        |reft AS (SELECT CAST(SUM(rc) AS DOUBLE) AS rn FROM ref),
        |grid AS (SELECT ws_us, g.range AS bucket
        |         FROM (SELECT DISTINCT ws_us FROM e), range(10) g),
        |g2 AS (SELECT grid.ws_us, grid.bucket, COALESCE(b.c, 0) AS c
        |       FROM grid LEFT JOIN b
        |         ON grid.ws_us = b.ws_us AND grid.bucket = b.bucket),
        |wn AS (SELECT ws_us, CAST(SUM(c) AS DOUBLE) AS n
        |       FROM g2 GROUP BY 1),
        |p AS (SELECT g2.ws_us, wn.n,
        |        (CAST(g2.c AS DOUBLE) + 0.5) / (wn.n + 5.0) AS pa,
        |        (CAST(COALESCE(ref.rc, 0) AS DOUBLE) + 0.5)
        |          / (reft.rn + 5.0) AS pb
        |      FROM g2 JOIN wn ON g2.ws_us = wn.ws_us
        |      LEFT JOIN ref ON g2.bucket = ref.bucket CROSS JOIN reft)
        |SELECT ws_us, CAST(MAX(n) AS BIGINT) AS n_events,
        |  ROUND(CAST(SUM(CAST((pa - pb) * LN(pa / pb)
        |                      AS DECIMAL(28,12))) AS DOUBLE)
        |        * 1000000.0) / 1000000.0 AS psi
        |FROM p GROUP BY ws_us ORDER BY ws_us""".stripMargin,

    "strm16_windowed_quantiles" -> {
      val g = s"CAST(${(1 + 0.01) / (1 - 0.01)} AS DOUBLE)"
      val zb = Long.MinValue.toString
      s"""WITH e AS (
         |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us,
         |    CASE WHEN value > 0 AND NOT isnan(value) AND NOT isinf(value)
         |         THEN CAST(CEIL(LN(value) / LN($g)) AS BIGINT)
         |         ELSE CAST('$zb' AS BIGINT) END AS i
         |  FROM events WHERE value IS NOT NULL),
         |b AS (SELECT ws_us, i, COUNT(*) AS c FROM e GROUP BY 1, 2),
         |cum AS (
         |  SELECT ws_us, i,
         |    SUM(c) OVER (PARTITION BY ws_us ORDER BY i) AS cum,
         |    SUM(c) OVER (PARTITION BY ws_us) AS n
         |  FROM b),
         |q AS (
         |  SELECT ws_us, CAST(MAX(n) AS BIGINT) AS n,
         |    MIN(CASE WHEN cum >= FLOOR(0.5 * (n - 1)) + 1 THEN i END)
         |      AS p50_bucket,
         |    MIN(CASE WHEN cum >= FLOOR(0.95 * (n - 1)) + 1 THEN i END)
         |      AS p95_bucket
         |  FROM cum GROUP BY 1)
         |SELECT ws_us, n,
         |  p50_bucket,
         |  CASE WHEN p50_bucket = CAST('$zb' AS BIGINT) THEN 0.0
         |       ELSE ROUND(2 * POWER($g, p50_bucket) / ($g + 1), 2)
         |  END AS p50_est,
         |  p95_bucket,
         |  CASE WHEN p95_bucket = CAST('$zb' AS BIGINT) THEN 0.0
         |       ELSE ROUND(2 * POWER($g, p95_bucket) / ($g + 1), 2)
         |  END AS p95_est
         |FROM q ORDER BY ws_us""".stripMargin
    },

    // gaps-and-islands replication of Spark's dynamic session semantics:
    // running max of (t + that event's own gap) over earlier rows; a
    // session breaks when t >= prev_end ([start,end) boundary); end =
    // max(t + gap) within the island (sessions merge transitively)
    "strm3b_dynamic_session" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |    CASE WHEN event_type = 'click' THEN 600000000
        |         ELSE 1800000000 END AS gap
        |  FROM events),
        |m AS (
        |  SELECT user_id, t, gap,
        |    MAX(t + gap) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |f AS (
        |  SELECT user_id, t, gap,
        |    CASE WHEN prev_end IS NULL OR t >= prev_end THEN 1 ELSE 0 END
        |      AS brk
        |  FROM m),
        |g AS (
        |  SELECT user_id, t, gap,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id, MIN(t) AS sess_start_us, MAX(t + gap) AS sess_end_us,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, sess_start_us""".stripMargin,

    // exact per-window top-5 — valid BECAUSE k=512 exceeds every window's
    // user cardinality (under-capacity SpaceSaving = exact count table,
    // err 0); ties broken (n DESC, user ASC) in both engines
    "strm17_windowed_topk" ->
      """WITH c AS (
        |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us,
        |    user_id, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT ws_us, user_id, n,
        |    ROW_NUMBER() OVER (PARTITION BY ws_us ORDER BY n DESC, user_id)
        |      AS rnk
        |  FROM c)
        |SELECT ws_us, CAST(rnk AS INTEGER) AS rank, user_id,
        |  n AS est_n, CAST(0 AS BIGINT) AS err_n
        |FROM r WHERE rnk <= 5 ORDER BY ws_us, rank""".stripMargin,

    "strm1_tumbling" ->
      s"""SELECT (epoch_us(ts) // 600000000) * 600000000 AS ws_us, event_type,
         |  count(*) AS n, ${Det.dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "strm2_sliding" ->
      """SELECT ws_us, count(*) AS n FROM (
        |  SELECT ((epoch_us(ts) // 300000000) - k.k) * 300000000 AS ws_us
        |  FROM events CROSS JOIN (VALUES (0), (1)) AS k(k))
        |GROUP BY ws_us ORDER BY ws_us""".stripMargin,

    "strm3_session" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |        (PARTITION BY user_id ORDER BY epoch_us(ts)) >= 1800000000
        |      OR lag(epoch_us(ts)) OVER
        |        (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |g AS (
        |  SELECT user_id, us,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM o)
        |SELECT user_id, min(us) AS sess_start_us,
        |       max(us) + 1800000000 AS sess_end_us, count(*) AS n
        |FROM g GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start_us""".stripMargin,

    "strm4_late_data" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, max_seen_us FROM (
        |  SELECT event_id, ts,
        |    max(epoch_us(ts)) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_seen_us
        |  FROM events)
        |WHERE epoch_us(ts) < max_seen_us - 3600000000
        |ORDER BY event_id""".stripMargin,

    "strm5_dedup" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "strm6_upsert_latest" ->
      """SELECT user_id, event_type AS last_type, value AS last_value,
        |       epoch_us(ts) AS last_us
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    "strm7_stream_static_join" ->
      s"""SELECT CASE event_type
         |    WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
         |    WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
         |    WHEN 'error' THEN 'ops' END AS category,
         |  count(*) AS n, ${Det.dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )
}

/** STRM-18 processor (top-level so Spark can serialize it without an
  * outer-object scope): one named ValueState slot per user. */
class RunningCountsProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, StreamOps.UserEvent, StreamOps.UserCounts] {

  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[StreamOps.UserState] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState(
      "counts",
      org.apache.spark.sql.Encoders.product[StreamOps.UserState],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      uid: Long,
      rows: Iterator[StreamOps.UserEvent],
      timers: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[StreamOps.UserCounts] = {
    val prev =
      if (st.exists()) st.get() else StreamOps.UserState(0L, 0L)
    var n = prev.n
    var last = prev.last_us
    rows.foreach { r =>
      n += 1
      if (r.ts_us > last) last = r.ts_us
    }
    st.update(StreamOps.UserState(n, last))
    Iterator.single(StreamOps.UserCounts(uid, n, last))
  }
}
