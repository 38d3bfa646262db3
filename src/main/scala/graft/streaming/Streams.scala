package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.expressions.Window
import graft.operators.{Dedup, Multimodal, Prep, Profile, Sessions, Similarity, Sketches, TextIndex}

/** Structured Streaming tier over the `events` dataflow (SURVEY.md §2.5
  * streaming row, §7 step 7).
  *
  * Every transform here is written against the unified Dataset model: the
  * SAME function plans over a batch DataFrame and a `readStream` frame.
  * That is the differential-test contract (SURVEY §5.2 t3): the streaming
  * rendering fed the full event log must equal the batch rendering — e.g.
  * [[tumblingCounts]] over a stream ≡ the q25 batch buckets — because a
  * stream is just a table being incrementally materialized.
  *
  * Scale posture: windowed aggregations shuffle once on (window, key);
  * `withWatermark` bounds state (late rows beyond the delay are dropped
  * and window state older than the watermark is evicted, so state size
  * tracks the watermark horizon, not the stream length);
  * [[runningUserState]] keys state by user so it distributes across
  * executors with the shuffle and lives in the state store (RocksDB at
  * scale), never on the driver.
  */
object Streams {

  /** Tumbling 1-hour counts/sums per event_type — the streaming form of
    * q25 (`window(ts, 1h)` buckets align with `date_trunc('hour')`).
    * Pass a watermark to bound state / drop late data on streams.
    */
  def tumblingCounts(events: DataFrame, watermark: Option[String] = None): DataFrame =
    withWm(events, watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding windows: each event lands in `size`/`slide` overlapping
    * buckets (Spark plans this as a generate + single shuffle, not one
    * aggregation per offset).
    */
  def slidingCounts(
      events: DataFrame, size: String = "1 hour", slide: String = "30 minutes",
      watermark: Option[String] = None): DataFrame =
    withWm(events, watermark)
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Session windows per user: a session extends while consecutive events
    * arrive within `gap`; on streams, sessions finalize once the
    * watermark passes their close (append mode).
    */
  def sessionCounts(
      events: DataFrame, gap: String = "30 minutes",
      watermark: Option[String] = None): DataFrame =
    withWm(events, watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  private def withWm(events: DataFrame, watermark: Option[String]): DataFrame =
    watermark.fold(events)(w => events.withWatermark("ts", w))

  /** Streaming ingest dedup, unbounded state: one event per `event_id`
    * survives, replays are dropped — exactly-once semantics over an
    * at-least-once transport. On a STREAM the survivor is the first
    * seen; the batch rendering keeps an arbitrary row per id, so the
    * batch ≡ stream differential holds when replays are byte-identical —
    * which is the redelivery case this exists for (a replay that
    * MUTATED payload is an upstream bug, not a duplicate). State grows
    * with distinct keys; use [[dedupWithinWatermark]] on long-running
    * streams.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** Streaming ingest dedup with BOUNDED state: duplicates are dropped
    * only while their key's first arrival is younger than the watermark
    * delay, after which the key's state is evicted — state size tracks
    * the watermark horizon, not the stream length. The contract a 100 TB
    * ingest needs: replays land within the transport's redelivery window,
    * so eviction beyond it is safe and keeps the state store flat.
    */
  def dedupWithinWatermark(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: each event picks up its user's customer
    * segment. The static side is a plain DataFrame — Spark re-plans it
    * per micro-batch and broadcasts it when small, the standard shape
    * for dimension enrichment of a 100 TB/day event stream (no state
    * store involved; left join keeps events with no dimension row).
    */
  def withCustomerSegment(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      customer.select(col("c_custkey").as("user_id"), col("c_mktsegment")),
      Seq("user_id"), "left")

  /** Stream-stream interval join: each purchase matched to the same
    * user's clicks at most `windowSeconds` earlier. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * each side's state store holds only the watermark horizon — the
    * requirements Structured Streaming imposes for an unbounded
    * stream-stream inner join to run with bounded state. The same
    * transform over batch frames is the differential oracle.
    */
  def clickToPurchase(events: DataFrame, watermarkDelay: String = "1 hour",
      windowSeconds: Long = 3600L): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermarkDelay)
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("p_ts"), col("c_ts"))
  }

  // ——— streaming ingest ———
  //
  // Every `foreachBatch` tier below goes through one protocol, kept in the
  // private functions that follow. A tier's state dir (any Hadoop
  // FileSystem path, so HDFS and object stores work too) holds each
  // micro-batch's frames plus a commit marker per batch, and, after a
  // compaction, a base holding the tier's standalone artifact plus a
  // compaction marker. Marker last: every frame a marker publishes is
  // durable before the marker is written, so a crash mid-write leaves
  // readers on the previous view and a replay overwrites the partial batch
  // dirs (markers on object stores need read-after-write consistency, which
  // S3/GCS/ABFS provide). Commit markers are never deleted: they are the
  // replay-skip contract. A reader lists the view once (base C = the newest
  // compaction marker, deltas = committed ids above C); compaction folds
  // exactly the view it listed, so a batch that commits mid-compact stays a
  // delta until the next run. New tiers go through `start`, `commit`,
  // `view` and `compact` and never write a marker themselves.

  private val Committed = "_committed" // one empty file per committed batch id
  private val Compacted = "_compacted" // one empty file per base, named C
  /** The base folding every committed batch id ≤ `c`. */
  private def baseDir(stateDir: String, c: Long): String = s"$stateDir/base/compact=$c"
  /** Where batch `id` writes `frame`. */
  private def batchDir(stateDir: String, frame: String, id: Long): String =
    s"$stateDir/$frame/batch=$id"

  /** A state dir's committed view, listed once: compaction watermark `c`
    * (-1 before the first compaction) and every committed batch id.
    */
  private[graft] final case class View(
      spark: SparkSession, dir: String, c: Long, committed: Seq[Long]) {
    /** Committed batches the base does not cover, ascending. */
    val ids: Seq[Long] = committed.filter(_ > c)
    def isEmpty: Boolean = c < 0 && ids.isEmpty
    def base: String = baseDir(dir, c)
    /** `frame`'s base copy (at `inBase` under the base) then each delta's. */
    def paths(frame: String, inBase: String): Seq[String] =
      (if (c >= 0) Seq(s"$base/$inBase") else Nil) ++ ids.map(batchDir(dir, frame, _))
    def frame(name: String): DataFrame = spark.read.parquet(paths(name, name): _*)
    /** `f` over this view; None before the first commit. */
    def ifAny[T](f: View => T): Option[T] = if (isEmpty) None else Some(f(this))
  }

  private[graft] def view(spark: SparkSession, stateDir: String): View = {
    val fs = fileSystem(spark, stateDir)
    def ids(marker: String): Seq[Long] = {
      val d = new Path(s"$stateDir/$marker")
      if (!fs.exists(d)) Nil else fs.listStatus(d).toSeq.map(_.getPath.getName.toLong).sorted
    }
    View(spark, stateDir, ids(Compacted).lastOption.getOrElse(-1L), ids(Committed))
  }

  /** Start a stream whose every micro-batch runs `step`. */
  private def start(in: DataFrame, checkpointDir: String)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Row], batchId: Long) => step(batch.toDF(), batchId))
      .start()

  /** One ingest step. A replayed (already committed) id is a durable
    * no-op; otherwise `frames` sees the prior view and names the batch's
    * frames, which are written before the commit marker.
    */
  private def commit(batch: DataFrame, stateDir: String, batchId: Long)(
      frames: View => Seq[(String, DataFrame)]): Unit = {
    val v = view(batch.sparkSession, stateDir)
    if (!v.committed.contains(batchId)) {
      for ((f, df) <- frames(v)) save(df, batchDir(stateDir, f, batchId))
      mark(v, Committed, batchId)
    }
  }

  /** Fold the view listed once into the base of its newest delta C, then
    * write C's compaction marker and delete the covered `frames` batch
    * dirs and the previous base. Returns C, or None when nothing is new.
    */
  private[graft] def compact(spark: SparkSession, stateDir: String,
      frames: Seq[String])(fold: (View, String) => Unit): Option[Long] = {
    val v = view(spark, stateDir)
    v.ids.lastOption.map { c =>
      fold(v, baseDir(stateDir, c))
      mark(v, Compacted, c)
      gcCovered(v, frames)
      c
    }
  }

  /** The pure-mergeable fold: `merge` over the view's `frame` partials,
    * stored as the new base's `frame`.
    */
  private[graft] def foldMerged(frame: String, merge: DataFrame => DataFrame)(
      v: View, out: String): Unit =
    save(merge(v.frame(frame)), s"$out/$frame")

  private def compactMerged(spark: SparkSession, stateDir: String, frame: String)(
      merge: DataFrame => DataFrame): Option[Long] =
    compact(spark, stateDir, Seq(frame))(foldMerged(frame, merge))

  private def save(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  private def mark(v: View, marker: String, id: Long): Unit = {
    val fs = fileSystem(v.spark, v.dir)
    fs.mkdirs(new Path(s"${v.dir}/$marker"))
    fs.create(new Path(s"${v.dir}/$marker/$id"), true).close()
  }

  /** Best-effort, after the marker: a crash mid-GC only leaves extra files
    * that no reader lists (readers see the newest base and the deltas
    * above it).
    */
  private def gcCovered(v: View, frames: Seq[String]): Unit = {
    val fs = fileSystem(v.spark, v.dir)
    def rm(p: String): Unit =
      try fs.delete(new Path(p), true) catch { case NonFatal(_) => () }
    for (f <- frames; i <- v.ids) rm(batchDir(v.dir, f, i))
    if (v.c >= 0) rm(v.base)
  }

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Streaming ingest near-dup: each micro-batch of documents is deduped
    * against the ACCUMULATED corpus index (the shingle/band frames of
    * every prior batch, the `Dedup.writeIndex` artifact shape), then
    * appended to it. Per batch only the new documents are shingled; the
    * corpus side is parquet reads of narrow index frames.
    *
    * Frames: `shingles` and `bands` (the accumulated index) and `edges`,
    * the verified near-dup edges touching the batch (including
    * batch-internal pairs), ≡ `Dedup.incrementalNearDupEdges(prior
    * batches, batch)`, differentially tested micro-batch by micro-batch.
    * The band layout is Dedup's default (n=3, 16 hashes, 4 rows per band).
    */
  def ingestNearDup(docs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    start(docs, checkpointDir)(ingestNearDupBatch(_, stateDir, _))

  /** One ingest step (see [[ingestNearDup]]); public for batch-mode
    * replays and tests — the streaming query calls exactly this.
    */
  def ingestNearDupBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    commit(batch, stateDir, batchId) { v =>
      // empty prior index for the first batch: the incremental pass then
      // returns exactly the batch-internal pairs (every pair "touches the
      // delta"), so one code path serves bootstrap and steady state
      val idx = v.ifAny(nearDupIndex).getOrElse(Dedup.buildIndex(batch.limit(0)))
      val sh = Dedup.shingles(batch)
      Seq("edges" -> Dedup.incrementalNearDupEdgesIndexed(idx, batch),
        "shingles" -> sh, "bands" -> Dedup.lshBands(sh))
    }

  /** The accumulated ingest index over all COMMITTED batches (None
    * before the first commit) — directly searchable by the incremental
    * Dedup operators. After a [[compactNearDup]] the base's canonical
    * frames stand in for the batches they folded, so probe cost stays
    * flat in batch count.
    */
  def ingestIndex(spark: SparkSession, stateDir: String): Option[Dedup.DedupIndex] =
    view(spark, stateDir).ifAny(nearDupIndex)

  private def nearDupIndex(v: View): Dedup.DedupIndex = {
    val (n, numHashes, rowsPerBand) = (3, 16, 4)
    if (v.c >= 0) {
      val m = v.spark.read.parquet(s"${v.base}/index/meta").head
      require(m.getAs[Int]("n") == n && m.getAs[Int]("num_hashes") == numHashes &&
          m.getAs[Int]("rows_per_band") == rowsPerBand,
        s"the near-dup band layout ($n,$numHashes,$rowsPerBand) differs from the " +
          s"compacted base's manifest ($m) — refusing to mix band layouts")
    }
    def read(f: String) = v.spark.read.parquet(v.paths(f, s"index/$f"): _*)
    Dedup.DedupIndex(read("shingles"), read("bands"), n, numHashes, rowsPerBand)
  }

  /** All committed near-dup edges of an [[ingestNearDup]] run so far
    * (compacted base edges + uncompacted delta batches).
    */
  def ingestEdges(spark: SparkSession, stateDir: String): Option[DataFrame] =
    view(spark, stateDir).ifAny(_.frame("edges"))

  /** Fold the committed near-dup batches (and any prior base) into a
    * base with `index/` in the [[Dedup.writeIndex]] layout (loadable by
    * [[Dedup.loadIndex]] as a standalone artifact) plus `edges/`.
    */
  def compactNearDup(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq("shingles", "bands", "edges")) { (v, out) =>
      Dedup.compactIndex(nearDupIndex(v), s"$out/index")
      save(v.frame("edges"), s"$out/edges")
    }

  /** Streaming embedding ingest — the [[ingestNearDup]] shape on the
    * similarity tier: the FIRST micro-batch is the index build job
    * (k-means-trained on the bootstrap vectors, `cents/` + `meta/`
    * persisted once at the state root in the [[Similarity.writeIvfIndex]]
    * layout), and every later batch runs the q87 contract — assign ONLY
    * the batch's vectors against the stored broadcast centroids
    * ([[Similarity.ivfAssign]]) and persist its `assigned` rows.
    * Centroids never move per ingest (production retrains on a cadence
    * as a separate build job), so the accumulated assignment is
    * differentially ≡ a batch-mode [[Similarity.ivfAppend]] chain over
    * the same cuts — tested micro-batch by micro-batch, across restarts.
    */
  def ingestIvf(emb: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    start(emb, checkpointDir)(ingestIvfBatch(_, stateDir, _))

  /** One embedding-ingest step (see [[ingestIvf]]); public for batch-mode
    * replays and tests — the streaming query calls exactly this.
    */
  def ingestIvfBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    commit(batch, stateDir, batchId) { v =>
      val assigned = v.ifAny(ivfIndex) match {
        case None => // bootstrap: THIS batch is the index build job
          val idx = Similarity.ivfTrainedIndex(batch)
          save(idx.cents, s"$stateDir/cents")
          save(v.spark.range(1).select(lit(idx.stride).as("stride")), s"$stateDir/meta")
          idx.assigned
        case Some(idx) => Similarity.ivfAssign(idx, batch) // one batch-sized scan, q87's law
      }
      Seq("assigned" -> assigned)
    }

  /** The accumulated streamed index over all COMMITTED batches (None
    * before bootstrap commits) — directly [[Similarity.ivfSearch]]-able.
    * After a [[compactIvf]] the base's canonical artifact stands in for
    * the assignment deltas it folded.
    */
  def ingestIvfIndex(spark: SparkSession, stateDir: String): Option[Similarity.IvfIndex] =
    view(spark, stateDir).ifAny(ivfIndex)

  private def ivfIndex(v: View): Similarity.IvfIndex = {
    // cents/stride never change after bootstrap; read them from the base
    // when one exists so the base alone is the full artifact
    val pfx = if (v.c >= 0) v.base else v.dir
    Similarity.ivfIndexFrom(
      v.spark.read.parquet(s"$pfx/meta").head.getAs[Int]("stride"),
      v.spark.read.parquet(s"$pfx/cents"), v.frame("assigned"))
  }

  /** Fold the committed IVF assignment deltas (and any prior base) into a
    * base in the [[Similarity.writeIvfIndex]] layout — cents + summed
    * assignment + stride manifest, loadable by [[Similarity.loadIvfIndex]]
    * as a standalone artifact. The bootstrap `cents`/`meta` at the state
    * root are kept: they are the build job's artifact and stay
    * byte-identical to the base's copy.
    */
  def compactIvf(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq("assigned"))(
      (v, out) => Similarity.writeIvfIndex(ivfIndex(v), out))

  /** Streaming inverted-index ingest — the [[ingestNearDup]] shape on
    * the retrieval tier: each micro-batch of documents tokenizes ONLY
    * its own docs into `postings`/`doclens` frames in the
    * [[graft.operators.TextIndex]] layout, plus a `stats` frame of that
    * batch's doc/token counts (the reader SUMS them, so stats stay
    * mergeable). Because ingested doc_ids are append-only, batch posting
    * frames are (word, doc_id)-disjoint and the accumulated index is
    * exactly the from-scratch build — BM25 over the streamed index ≡
    * [[graft.operators.TextIndex.bm25Rank]] over everything ingested so
    * far, differentially tested across restarts.
    */
  def ingestTextIndex(docs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    start(docs, checkpointDir)(ingestTextIndexBatch(_, stateDir, _))

  /** One text-index ingest step (see [[ingestTextIndex]]); public for
    * batch-mode replays and tests — the streaming query calls exactly
    * this.
    */
  def ingestTextIndexBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    commit(batch, stateDir, batchId) { v =>
      val idx = TextIndex.build(batch)
      Seq("postings" -> idx.postings.repartition(col("word")), "doclens" -> idx.doclens,
        "stats" -> v.spark.range(1).select(
          lit(idx.nDocs).as("n_docs"), lit(idx.totalTokens).as("total_tokens")))
    }

  /** The accumulated streamed inverted index over all COMMITTED batches
    * (None before the first commit) — directly
    * [[graft.operators.TextIndex.bm25]]/`lookup`-servable.
    */
  def ingestTextIndexRead(spark: SparkSession,
      stateDir: String): Option[TextIndex.Index] =
    view(spark, stateDir).ifAny(textIndex)

  private def textIndex(v: View): TextIndex.Index = {
    // the base's stats manifest is the already-summed fold of the batches
    // it covers — summing it WITH the delta manifests keeps stats
    // mergeable across compactions
    val s = v.frame("stats").agg(sum("n_docs"), sum("total_tokens")).head
    TextIndex.Index(v.frame("postings"), v.frame("doclens"), s.getLong(0), s.getLong(1))
  }

  /** Fold the committed text-index batches (and any prior base) into a
    * base in the [[TextIndex.compact]] layout — word-repartitioned
    * postings, doclens, summed stats manifest, loadable by
    * [[TextIndex.load]] as a standalone artifact. This is the cadence job
    * that keeps BM25 probe cost flat: without it a term probe touches one
    * posting file group PER BATCH forever.
    */
  def compactTextIndex(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq("postings", "doclens", "stats"))(
      (v, out) => TextIndex.compact(textIndex(v), out))

  /** Streaming ingest Bloom: the membership front door
    * ([[Sketches.bloomMembership]]) built incrementally. Per batch the
    * arriving docs' occupied-bucket set (distinct, ≤ m rows) lands in the
    * `bits` frame, with the (k, m) `meta` pinned at the state root. Bloom
    * state is a pure SET UNION — bits only ever turn on — so the fold over
    * committed batches is associative, replay-safe, and
    * order-independent: the streamed filter is bit-identical to a batch
    * [[Sketches.bloomBuild]] over the union of the batches (the
    * StreamingSpec differential).
    */
  def ingestBloom(docs: DataFrame, stateDir: String, checkpointDir: String,
      k: Int = 4, m: Int = 131072): StreamingQuery =
    start(docs, checkpointDir)(ingestBloomBatch(_, stateDir, _, k, m))

  /** One Bloom ingest step (see [[ingestBloom]]); public for batch-mode
    * replays and tests — the streaming query calls exactly this.
    */
  def ingestBloomBatch(batch: DataFrame, stateDir: String, batchId: Long,
      k: Int = 4, m: Int = 131072): Unit =
    commit(batch, stateDir, batchId) { v =>
      // (k, m) drift gate: bucket sets hashed under different moduli must
      // never be unioned — a mixed filter can yield FALSE NEGATIVES, the
      // one failure a Bloom filter's contract forbids. On any non-first
      // batch the pinned meta is authoritative; fail loudly on mismatch
      // (the profile tier gates the same drift class via pp_version).
      if (!v.isEmpty) {
        val (k0, m0) = bloomMeta(v)
        require(k0 == k && m0 == m,
          s"Bloom ingest (k=$k, m=$m) conflicts with the pinned state " +
            s"(k=$k0, m=$m0) at $stateDir — mixed-modulus bucket unions " +
            "break the no-false-negatives contract")
      }
      // (k, m) pin: every batch writes the same one-row frame (the
      // foreachBatch loop is serial, and identical content makes the
      // overwrite idempotent under replay)
      save(bloomMetaFrame(v.spark, k, m), s"$stateDir/meta")
      Seq("bits" -> Sketches.bloomBuild(batch, k, m))
    }

  private def bloomMeta(v: View): (Int, Int) = {
    val meta = v.spark.read.parquet(s"${v.dir}/meta").head
    (meta.getAs[Long]("k").toInt, meta.getAs[Long]("m").toInt)
  }

  private def bloomMetaFrame(spark: SparkSession, k: Int, m: Int): DataFrame =
    spark.range(1).select(lit(k.toLong).as("k"), lit(m.toLong).as("m"))

  /** The accumulated streamed filter over all COMMITTED batches (and
    * any compacted base): the distinct union of their occupied-bucket
    * sets, with the pinned (k, m). None before the first commit.
    */
  def ingestBloomRead(spark: SparkSession,
      stateDir: String): Option[(DataFrame, Int, Int)] =
    view(spark, stateDir).ifAny { v =>
      val (k, m) = bloomMeta(v)
      (v.frame("bits").distinct(), k, m)
    }

  /** Probe the streamed filter — verdict-only rows, the ingest
    * front-door shape ([[Sketches.bloomProbe]] over the accumulated
    * set). None before the first commit.
    */
  def ingestBloomProbe(spark: SparkSession, stateDir: String,
      probes: DataFrame): Option[DataFrame] =
    ingestBloomRead(spark, stateDir).map { case (occ, k, m) =>
      Sketches.bloomProbe(occ, probes, k, m)
    }

  /** Fold the committed Bloom batches (and any prior base) into a base
    * in the [[Sketches.writeBloom]] layout (`bits/` + `meta/`), loadable
    * by [[Sketches.bloomMembershipStored]] as a standalone artifact. Keeps
    * probe cost flat: an uncompacted probe unions one bucket-set file
    * group per batch forever.
    */
  def compactBloom(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq("bits")) { (v, out) =>
      val (k, m) = bloomMeta(v)
      save(v.frame("bits").distinct(), s"$out/bits")
      save(bloomMetaFrame(spark, k, m), s"$out/meta")
    }

  /** Streaming data-quality profile: each micro-batch writes its
    * MERGEABLE per-column profile partial
    * ([[graft.operators.Profile.profilePartial]]: counts + portable
    * min/max + a KMV distinct sketch) as its `profile` frame.
    * [[ingestProfileRead]] folds every committed partial — and because
    * the KMV merge is lossless at the sketch level, the streamed profile
    * is IDENTICAL to a single-pass profile of all data ingested so far,
    * whatever the batching (the differential law StreamingSpec pins). No
    * compaction cadence needed: a partial is O(columns) rows, so a year of
    * micro-batches reads in milliseconds.
    */
  def ingestProfile(rows: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    start(rows, checkpointDir)(ingestProfileBatch(_, stateDir, _))

  /** One profile ingest step (see [[ingestProfile]]); public for
    * batch-mode replays and tests.
    */
  def ingestProfileBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    commit(batch, stateDir, batchId)(_ => Seq("profile" -> Profile.profilePartial(batch)))

  /** The accumulated profile over all COMMITTED batches (None before
    * the first commit): (column_name, n_rows, n_nulls, n_distinct_est,
    * min_str, max_str).
    */
  def ingestProfileRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir).ifAny { v =>
      // mergeSchema + an explicit version gate: a state dir written by
      // an older partial format must FAIL here, not silently mis-merge
      // (v1 rendered integral extrema as strings — coalescing them
      // under the v2 schema would discard them)
      val partials = spark.read.option("mergeSchema", "true")
        .parquet(v.paths("profile", "profile"): _*)
      val ok = partials.columns.contains("pp_version") && {
        // coalesce BEFORE min: rows from a version-less partial read
        // under the merged schema carry NULL, which a bare min() would
        // skip right past
        val r = partials.agg(min(coalesce(col("pp_version"), lit(-1L)))).head
        !r.isNullAt(0) && r.getLong(0) == Profile.ProfilePartialVersion
      }
      if (!ok) throw new IllegalStateException(
        s"profile state under $stateDir carries partials from an older " +
          "format version — re-ingest (mixed-version folds would " +
          "silently mis-merge integral extrema)")
      Profile.mergeProfile(partials)
    }

  /** Streaming value histogram: each micro-batch writes its (grp, cents,
    * c) histogram partial ([[graft.operators.Profile.valueHist]] — a pure
    * mergeable: partials from disjoint batches fold by summing `c`, so
    * the fold is associative, replay-safe, and order-independent). The
    * folded histogram feeds the robust median/MAD outlier audit
    * ([[Profile.robustOutliersFromHist]]) — streamed ≡ the one-shot batch
    * [[Profile.robustOutliers]] over the union of the batches, at hash
    * level (the StreamingSpec differential). State is bounded by groups ×
    * value grid, never rows.
    */
  def ingestValueHist(rows: DataFrame, stateDir: String, checkpointDir: String,
      groupCol: String, valueCol: String): StreamingQuery =
    start(rows, checkpointDir)(ingestValueHistBatch(_, stateDir, _, groupCol, valueCol))

  /** One histogram ingest step (see [[ingestValueHist]]); public for
    * batch-mode replays and tests.
    */
  def ingestValueHistBatch(batch: DataFrame, stateDir: String, batchId: Long,
      groupCol: String, valueCol: String): Unit =
    commit(batch, stateDir, batchId)(
      _ => Seq("hist" -> Profile.valueHist(batch, groupCol, valueCol)))

  /** The folded histogram over all COMMITTED batches (and any compacted
    * base): one row per (grp, cents) with the summed count. None before
    * the first commit.
    */
  def ingestValueHistRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir).ifAny(v => mergeHist(v.frame("hist")))

  private def mergeHist(hist: DataFrame): DataFrame =
    hist.groupBy("grp", "cents").agg(sum("c").as("c"))

  /** The robust outlier audit over the streamed state — the ingest-side
    * face of q138. None before the first commit.
    */
  def ingestRobustOutliers(spark: SparkSession, stateDir: String,
      kNum: Long = 3L, kDen: Long = 1L): Option[DataFrame] =
    ingestValueHistRead(spark, stateDir)
      .map(Profile.robustOutliersFromHist(_, kNum, kDen))

  /** Fold the committed histogram batches (and any prior base) into one
    * base; keeps read cost flat as batch count grows.
    */
  def compactValueHist(spark: SparkSession, stateDir: String): Option[Long] =
    compactMerged(spark, stateDir, "hist")(mergeHist)

  /** Streaming per-label embedding-centroid state: each micro-batch of
    * embedding rows writes its per-label quantized component-sum partial
    * ([[graft.operators.Similarity.centroidPartial]] — a pure mergeable:
    * integer sums fold with NO precision loss, so the streamed centroid
    * is bit-identical to a one-shot scan whatever the batching). The read
    * face finishes the folded sums through the SAME divide-back the batch
    * queries use (q170/q206 arithmetic), so a production drift monitor
    * can compare live-ingested centroids against a stored snapshot
    * without ever rescanning the corpus. State is labels × dim longs,
    * never rows.
    */
  def ingestCentroids(emb: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    start(emb, checkpointDir)(ingestCentroidsBatch(_, stateDir, _))

  /** One centroid ingest step (see [[ingestCentroids]]); public for
    * batch-mode replays and tests.
    */
  def ingestCentroidsBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    commit(batch, stateDir, batchId)(_ => Seq("cent" -> Similarity.centroidPartial(batch)))

  /** The finished per-label centroids over all COMMITTED batches (and
    * any compacted base): (label, cnt, ce). None before the first
    * commit.
    */
  def ingestCentroidsRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir).ifAny(v => Similarity.finishCentroids(
      Similarity.mergeCentroidPartials(v.frame("cent"))))

  /** Fold the committed centroid partials into one base — merged SUMS are
    * stored, not finished centroids, so later deltas keep folding
    * losslessly.
    */
  def compactCentroids(spark: SparkSession, stateDir: String): Option[Long] =
    compactMerged(spark, stateDir, "cent")(Similarity.mergeCentroidPartials)

  /** Streaming training-token budget: each micro-batch of documents
    * writes its per-(source, split) doc/token partial
    * ([[graft.operators.Prep.budgetPartial]] — split assignment is the
    * q56 hash bucket and the count is the q39 whitespace counter, both
    * PER-DOC deterministic, so the partial is a pure integer mergeable
    * and the folded budget is bit-identical to a one-shot rollup of
    * every ingested doc whatever the batching — the StreamingSpec
    * differential). The LIVE face of q213's stored-manifest budget: a
    * mixture monitor watches per-(source, split) token mass fill as
    * batches land instead of waiting for the pipeline rebuild. (The
    * curation/semantic include flags are corpus-GLOBAL — a doc's
    * near-dup status can flip as later docs arrive — so the streamed
    * budget is the pre-chain mass; the stored manifest stays the
    * post-chain authority.) State is sources × splits rows per batch.
    */
  def ingestBudget(docs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    start(docs, checkpointDir)(ingestBudgetBatch(_, stateDir, _))

  /** One budget ingest step (see [[ingestBudget]]); public for
    * batch-mode replays and tests.
    */
  def ingestBudgetBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    commit(batch, stateDir, batchId)(_ => Seq("budget" -> Prep.budgetPartial(batch)))

  /** The folded (source, split, n_docs, ws_tokens) budget over all
    * COMMITTED batches (and any compacted base). None before the first
    * commit.
    */
  def ingestBudgetRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir).ifAny(v => Prep.mergeBudgetPartials(v.frame("budget")))

  /** Fold the committed budget partials into one base — merged integer
    * sums, so later deltas keep folding losslessly.
    */
  def compactBudget(spark: SparkSession, stateDir: String): Option[Long] =
    compactMerged(spark, stateDir, "budget")(Prep.mergeBudgetPartials)

  /** Streaming Markov transition matrix, the ORDER-SENSITIVE tier:
    * transition counts are NOT a pure mergeable (the pair spanning two
    * batches belongs to neither batch alone), so each micro-batch carries
    * a per-user `frontier` — the last (ts, event_id, type) seen per user —
    * and counts its within-batch pairs PLUS the frontier→first-event
    * boundary pair, writing a summable (from_type, to_type, n) `trans`
    * partial (30-minute session gap). Folded counts + the shared
    * normalization tail ([[graft.operators.Sessions.normalizeTransitions]])
    * ≡ the one-shot batch [[graft.operators.Sessions.transitionMatrix]]
    * over the concatenated stream, at hash level (the StreamingSpec
    * differential).
    *
    * Contract: per-user event-time monotone ingest (append order — a
    * log). A batch event at-or-before its user's stored frontier would
    * silently mis-pair, so the batch step FAILS LOUDLY on the first
    * violation instead (the Bloom-meta / profile-version posture:
    * detectable drift never folds quietly). State is the (from, to) count
    * grid plus one frontier row per user.
    */
  def ingestTransitions(events: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    start(events, checkpointDir)(ingestTransitionsBatch(_, stateDir, _))

  /** One transition ingest step (see [[ingestTransitions]]); public for
    * batch-mode replays and tests.
    */
  def ingestTransitionsBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    commit(batch, stateDir, batchId) { v =>
      val ev = batch.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      val all = frontier(v) match {
        case None => ev
        case Some(f) =>
          val firsts = ev.groupBy("user_id")
            .agg(min(struct(unix_micros(col("ts")).as("ts_us"),
              col("event_id").as("event_id"))).as("first"))
          val viol = firsts
            .join(f.select(col("user_id"),
              struct(col("ts_us"), col("event_id")).as("last")), "user_id")
            .filter(!(col("first") > col("last")))
          val bad = viol.limit(1).collect()
          if (bad.nonEmpty) throw new IllegalStateException(
            s"ingestTransitions: batch $batchId carries an event at-or-" +
              s"before the stored frontier for user ${bad.head.get(0)} — " +
              "out-of-order ingest would silently mis-pair transitions; " +
              "this tier requires per-user event-time monotone batches")
          ev.unionByName(f.select(col("user_id"),
            expr("timestamp_micros(ts_us)").as("ts"), col("event_id"),
            col("event_type")))
      }
      Seq("trans" -> Sessions.transitionCounts(all),
        "frontier" -> all.groupBy("user_id")
          .agg(max(struct(unix_micros(col("ts")).as("ts_us"),
            col("event_id").as("event_id"),
            col("event_type").as("event_type"))).as("m"))
          .select(col("user_id"), col("m.ts_us").as("ts_us"),
            col("m.event_id").as("event_id"),
            col("m.event_type").as("event_type")))
    }

  /** The newest frontier snapshot of the view (one row per user): the
    * highest delta batch's or, failing that, the base's.
    */
  private def frontier(v: View): Option[DataFrame] =
    v.paths("frontier", "frontier").lastOption.map(v.spark.read.parquet(_))

  private def sumTransitions(trans: DataFrame): DataFrame =
    trans.groupBy("from_type", "to_type").agg(sum("n").as("n"))

  /** The row-normalized transition matrix over all committed batches
    * (and any compacted base) — the ingest-side face of q151. None
    * before the first commit.
    */
  def ingestTransitionsRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir).ifAny(v =>
      Sessions.normalizeTransitions(sumTransitions(v.frame("trans"))))

  /** Fold the committed transition partials (and any prior base) into one
    * base, carrying the newest frontier forward; keeps read cost flat as
    * batch count grows.
    */
  def compactTransitions(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq("trans", "frontier")) { (v, out) =>
      save(sumTransitions(v.frame("trans")), s"$out/trans")
      save(frontier(v).get, s"$out/frontier")
    }

  /** Streaming survival analysis: the Nelson–Aalen repurchase hazard
    * (batch face q165, [[graft.operators.Sessions.repurchaseHazard]])
    * over an event stream. Unlike the order-sensitive transitions tier,
    * this state IS a pure mergeable: the study needs only each user's two
    * EARLIEST purchases plus the corpus' last purchase second, and the
    * global two-earliest always lie inside the union of per-batch
    * two-earliest (each batch persists ≤ 2 slim (user_id, event_id, s)
    * `firsts` rows per user and a 1-row `hz` horizon), so the fold is
    * associative, replay-safe, and order-independent — streamed ≡ batch
    * is a hash law whatever the batching (the StreamingSpec
    * differential). Compaction re-ranks accumulated candidates back to
    * ≤ 2 rows per user, so state stays user-bounded however long the
    * ingest runs.
    */
  def ingestHazard(events: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    start(events, checkpointDir)(ingestHazardBatch(_, stateDir, _))

  /** One hazard ingest step (see [[ingestHazard]]); public for
    * batch-mode replays and tests.
    */
  def ingestHazardBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    commit(batch, stateDir, batchId) { _ =>
      val sec = "((unix_micros(ts) - pmod(unix_micros(ts), 1000000)) div 1000000)"
      val p = batch.filter(col("event_type") === "purchase"
          && col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), expr(sec).as("s"))
      Seq("firsts" -> twoEarliest(p), "hz" -> p.agg(max(col("s")).as("tmax")))
    }

  /** Each user's two earliest purchase candidates. */
  private def twoEarliest(p: DataFrame): DataFrame =
    p.withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("s"), col("event_id"))))
      .filter(col("rn") <= 2).drop("rn")

  private def horizon(v: View): DataFrame =
    v.frame("hz").agg(max(col("tmax")).as("tmax"))

  /** The Nelson–Aalen hazard frame over everything ingested (and any
    * compacted base) — hash-identical to batch q165 over the union of
    * the batches. None before the first commit.
    */
  def ingestHazardRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir).ifAny(v =>
      Sessions.hazardFromPurchases(v.frame("firsts"), horizon(v)))

  /** Fold the committed hazard batches (and any prior base) into one
    * base: candidates re-ranked back to ≤ 2 rows per user, horizons
    * folded to one row; keeps BOTH read cost and state size flat as batch
    * count grows.
    */
  def compactHazard(spark: SparkSession, stateDir: String): Option[Long] =
    compact(spark, stateDir, Seq("firsts", "hz")) { (v, out) =>
      save(twoEarliest(v.frame("firsts")), s"$out/firsts")
      save(horizon(v), s"$out/hz")
    }

  /** Streaming ingest of IMAGE FEATURES, joining the multimodal tier to
    * the ingest protocol: as payload blobs arrive, ONLY the new batch pays
    * the codec pass ([[graft.operators.Multimodal.extractImageFeatures]] —
    * the q215 per-partition `javax.imageio` decode), and its
    * integer-exact rows land in the `features` frame. Feature rows are
    * pure per-doc derivations of append-only doc_ids, so batch frames are
    * disjoint and the fold over committed batches is row-identical to a
    * batch decode over everything ingested — the StreamingSpec
    * differential, checked across replays and compaction. At 100 TB this
    * is THE shape for an image corpus: a crawl never re-decodes
    * yesterday's payloads, and downstream consumers (dedup on the
    * histogram fingerprint, resize manifests) read the feature artifact,
    * never the bytes.
    */
  def ingestImageFeatures(blobs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    start(blobs, checkpointDir)(ingestImageFeaturesBatch(_, stateDir, _))

  /** One image-feature ingest step (see [[ingestImageFeatures]]);
    * public for batch-mode replays and tests. `batch` carries the
    * [[graft.operators.Multimodal.Blob]] schema (doc_id, bytes).
    */
  def ingestImageFeaturesBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    commit(batch, stateDir, batchId)(_ => Seq("features" -> Multimodal
      .extractImageFeatures(batch.as[Multimodal.Blob](Encoders.product[Multimodal.Blob]))
      .toDF()))

  /** The accumulated feature table over all COMMITTED batches (None
    * before the first commit): (doc_id, width, height, lum_hist).
    */
  def ingestImageFeaturesRead(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    view(spark, stateDir).ifAny(_.frame("features"))

  /** Fold committed image-feature batches (and any prior base) into one
    * base; keeps a feature probe reading one file group instead of one
    * per batch forever. The fold is a plain disjoint union: no re-decode.
    */
  def compactImageFeatures(spark: SparkSession, stateDir: String): Option[Long] =
    compactMerged(spark, stateDir, "features")(identity)

  /** Typed event row for the stateful API (subset of the events schema). */
  case class UserEvent(user_id: Long, event_type: String, value: Double,
      ts: java.sql.Timestamp)

  /** Running per-user state: event count, value total, last event time. */
  case class UserState(user_id: Long, n_events: Long, total_value: Double)

  /** The sessionization state machine reads ONLY (user_id, ts) — a slim
    * keyed row keeps event_type/value strings out of the groupByKey
    * shuffle on the ingest path. (Public: encoder-generated projections
    * live outside this object and cannot access a private class.)
    */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)

  /** Open-session island for [[sessionCloseEvents]] (epoch µs). */
  case class OpenSession(start_us: Long, last_us: Long, n: Long)

  /** [[sessionCloseEvents]] state: ALL islands not yet sealed by the
    * watermark, earliest first — not just the trailing one.
    */
  case class OpenSessions(islands: List[OpenSession])

  /** A closed session, emitted once (epoch µs bounds). */
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Session-close events via `flatMapGroupsWithState` + event-time
    * timeout — the 0..n-outputs-per-group stateful surface (vs
    * [[runningUserState]]'s exactly-one).
    *
    * Append-once semantics mirror Spark's own `session_window` append
    * mode: an island [start, end] is emitted only once the event-time
    * watermark strictly passes end + gap — before that, an admissible
    * straggler (event-time ≥ watermark, allowed whenever watermarkDelay
    * > 0) could still land within the gap and merge with or bridge into
    * it, which batch [[graft.operators.Sessions.sessionize]] would fold
    * into one island. So state holds EVERY unsealed island, not just
    * the trailing one; the event-time timeout is set to the earliest
    * unsealed deadline, and each wake-up (new data or timeout) emits
    * exactly the islands the watermark has sealed. State per key is
    * bounded by the watermark horizon (islands older than delay + gap
    * are always sealed), evicted when no island remains.
    *
    * Differential contract (tested at delay 0 and 2h): streamed closed
    * sessions == batch sessionize islands, once the watermark has
    * flushed every trailing session.
    */
  def sessionCloseEvents(events: DataFrame, gapSeconds: Long = 1800L,
      watermarkDelay: String = "0 seconds"): Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val seEnc: Encoder[SessionEvent] = Encoders.product[SessionEvent]
    implicit val osEnc: Encoder[OpenSessions] = Encoders.product[OpenSessions]
    implicit val csEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    val gapUs = gapSeconds * 1000000L

    events.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[OpenSessions]) =>
          // One unified path for data batches AND timeout wake-ups (where
          // `it` is empty): fold the batch's sorted times into islands,
          // merge them with the parked ones (an early straggler can
          // extend an island backward or bridge two — never regress an
          // end), then emit exactly the islands the watermark has sealed.
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val parked = state.getOption.map(_.islands).getOrElse(Nil)
          val times = it
            // floorDiv, not /: getNanos is always the non-negative
            // sub-second part, so the seconds component must floor for
            // pre-epoch instants (-0.5s is floor(-500ms/1000) = -1s plus
            // 500000µs of nanos, not 0s plus 500000µs)
            .map(e => Math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L)
            .toArray.sorted
          val fresh = times.foldLeft(List.empty[OpenSession]) {
            case (cur :: done, t) if t - cur.last_us <= gapUs =>
              cur.copy(last_us = t, n = cur.n + 1) :: done
            case (acc, t) => OpenSession(t, t, 1L) :: acc
          }
          val merged = (parked ++ fresh)
            .sortBy(s => (s.start_us, s.last_us))
            .foldLeft(List.empty[OpenSession]) {
              case (cur :: done, s) if s.start_us - cur.last_us <= gapUs =>
                OpenSession(cur.start_us, math.max(cur.last_us, s.last_us),
                  cur.n + s.n) :: done
              case (acc, s) => s :: acc
            }.reverse
          // strict <: a boundary event at exactly watermark == end + gap
          // is still admissible, so the island is not sealed yet
          val (flushed, pending) = merged.partition(_.last_us + gapUs < wmUs)
          if (pending.isEmpty) state.remove()
          else {
            state.update(OpenSessions(pending))
            // wake when the earliest deadline passes; a deadline may
            // already sit behind the watermark (late straggler reopened
            // it) — clamp forward, Spark rejects timestamps <= watermark
            state.setTimeoutTimestamp(math.max(
              pending.map(s => (s.last_us + gapUs) / 1000L + 1L).min,
              state.getCurrentWatermarkMs() + 1L))
          }
          flushed.iterator.map(s => ClosedSession(uid, s.start_us, s.last_us, s.n))
      }
  }

  /** Custom running state per user via `mapGroupsWithState` — the
    * arbitrary-stateful-processing surface (the streaming analogue of the
    * reference's user-defined Reducer: the framework shuffles by key and
    * hands the user code each key's values plus durable state).
    *
    * Emits the updated state for every group touched in a (micro-)batch.
    * On a batch Dataset the same code runs with initial-empty state, so
    * the result must equal a plain groupBy aggregation — that equivalence
    * is the differential test.
    */
  def runningUserState(events: Dataset[UserEvent]): Dataset[UserState] = {
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val stateEnc: Encoder[UserState] = Encoders.product[UserState]
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          it.foreach { e => n += 1; total += e.value }
          val next = UserState(uid, n, total)
          state.update(next)
          next
      }
  }
}
