package graft

import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probe-cost A/B for the streaming ingest tiers (VERDICT r5 ask #3's
  * measurement half): drive each `foreachBatch` ingest composition
  * batch-by-batch through its public batch function, time a FIXED probe
  * against the accumulated state as the batch count grows, then compact
  * and time the same probe against the canonical base — the record that
  * shows probe cost growing with batch count and falling back to
  * ~single-batch cost after the compaction job, which is the entire
  * reason [[graft.streaming.Streams.compactNearDup]] / `compactIvf` /
  * `compactTextIndex` exist.
  *
  * Reading the record: the `probe_by_batches` curve mixes two effects —
  * the corpus itself grows as batches land (a probe against 24 batches
  * sees 24× the documents of a probe against 1), and the state
  * fragments across batch dirs. The controlled A/B is the LAST
  * `probe_by_batches` cell vs `after_compact`: same corpus, same probe,
  * only the layout differs (N batch-partitioned dirs vs the one
  * canonical base). Fragmentation cost scales with batch count, so run
  * with many small batches (e.g. 96 at sf0.01) to isolate it from
  * compute, and realistic batches (e.g. 24 at sf0.1) to see the blend.
  *
  * Probes (constant probe-side work per measurement):
  *   - neardup: [[graft.operators.Dedup.incrementalNearDupEdgesIndexed]]
  *     of a fixed 100-doc delta against the accumulated index — the
  *     steady-state ingest step's own shape.
  *   - ivf: [[graft.operators.Similarity.ivfSearch]] of a fixed 64-query
  *     frame, k=10 — the serving path.
  *   - text: [[graft.operators.TextIndex.bm25]] over a fixed term set —
  *     the retrieval path.
  *   - bloom: [[graft.streaming.Streams.ingestBloomProbe]] of a fixed
  *     100-doc delta — the membership front door every arriving doc
  *     pays.
  *   - profile: [[graft.streaming.Streams.ingestProfileRead]]'s fold —
  *     no compact job exists for this tier (partials are O(columns)
  *     rows), so the flat read-cost curve IS the claim under test.
  *   - valuehist: [[graft.streaming.Streams.ingestRobustOutliers]] —
  *     the streamed q138 audit over the folded histogram state.
  *   - centroids: [[graft.streaming.Streams.ingestCentroidsRead]] —
  *     the finished per-label centroids over the folded integer sums.
  *   - transitions / hazard: each tier's read-face fold (the r8/r9
  *     order-sensitive and re-ranked compositions).
  *
  * Protocol per probe point: 1 warm-up + 2 timed [[Bench.timeOnce]]
  * runs, min recorded (same noop-sink + cache-release discipline as the
  * official bench). Probe points: every batch count in the sampled set,
  * plus `after_compact`.
  *
  * Usage: `IngestBench <outPath> <sfDir> <numBatches>`; set
  * `SPARK_GRAFT_INGEST_TIERS` (comma-separated tier names) to probe a
  * subset — the scale (30×) record targets the heaviest state tiers
  * rather than paying the full 11-tier sweep at every corpus size.
  */
object IngestBench {

  /** One ingest tier's sweep: `ingest(i, state)` lands batch i, `probe`
    * is the fixed measurement over the state, `compact` the tier's
    * compaction job (None: it has none). `word` names the measurement in
    * the stderr progress lines.
    */
  private final case class Tier(name: String, word: String,
      ingest: (Int, String) => Unit, probe: String => DataFrame,
      compact: Option[String => Option[Long]])

  private def probeMin(spark: SparkSession, mk: () => DataFrame): Double = {
    def once() = Bench.timeOnce(spark, "", (_, _) => mk())
    once() // warm-up
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: IngestBench <outPath> <sfDir> <numBatches>")
    val (outPath, sfDir, nBatches) = (args(0), args(1), args(2).toInt)
    val spark = Graft.session(appName = "graft-ingestbench", failOnConfMismatch = true)
    import graft.operators.{Dedup, Multimodal, Similarity, TextIndex}
    import graft.sources.Tables
    import graft.streaming.Streams

    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val probeDocs = docs.filter(col("doc_id") < 100)
    val probeQs = emb.filter(col("vec_id") < 64)
    val probeTerms = Seq("the", "data", "model", "with")
    val root = java.nio.file.Files.createTempDirectory("graft-ingestbench")
    // sample ~8 probe points; always the first and the final batch count
    val step = math.max(1, nBatches / 8)
    def probed(i: Int): Boolean = i == 0 || i == nBatches - 1 || (i + 1) % step == 0

    def num(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
    def tierJson(byBatches: Seq[(Int, Double)], after: Double): String =
      "{\"probe_by_batches\":" +
        byBatches.map { case (b, t) => "\"" + b + "\":" + num(t) }.mkString("{", ",", "}") +
        ",\"after_compact\":" + num(after) + "}"

    lazy val events = Tables.load(spark, sfDir, "events")
    lazy val nEv = events.count()
    def shard(df: DataFrame, key: String, i: Int) =
      df.filter(pmod(col(key), lit(nBatches)) === i)
    val tiers = Seq(
      Tier("neardup", "probe",
        (i, s) => Streams.ingestNearDupBatch(shard(docs, "doc_id", i), s, i),
        s => Dedup.incrementalNearDupEdgesIndexed(Streams.ingestIndex(spark, s).get, probeDocs),
        Some(Streams.compactNearDup(spark, _))),
      Tier("ivf", "probe",
        (i, s) => Streams.ingestIvfBatch(shard(emb, "vec_id", i), s, i),
        s => Similarity.ivfSearch(Streams.ingestIvfIndex(spark, s).get, probeQs, k = 10),
        Some(Streams.compactIvf(spark, _))),
      Tier("text", "probe",
        (i, s) => Streams.ingestTextIndexBatch(shard(docs, "doc_id", i), s, i),
        s => TextIndex.bm25(Streams.ingestTextIndexRead(spark, s).get, probeTerms),
        Some(Streams.compactTextIndex(spark, _))),
      Tier("bloom", "probe",
        (i, s) => Streams.ingestBloomBatch(shard(docs, "doc_id", i), s, i),
        s => Streams.ingestBloomProbe(spark, s, probeDocs).get,
        Some(Streams.compactBloom(spark, _))),
      // no compact job: partials are O(columns) rows; the flat read cost
      // IS the claim this measures
      Tier("profile", "fold",
        (i, s) => Streams.ingestProfileBatch(shard(docs, "doc_id", i), s, i),
        s => Streams.ingestProfileRead(spark, s).get, None),
      // per-(source, split) integer doc/token partials: the live face of
      // the stored-manifest budget
      Tier("budget", "fold",
        (i, s) => Streams.ingestBudgetBatch(shard(docs, "doc_id", i), s, i),
        s => Streams.ingestBudgetRead(spark, s).get,
        Some(Streams.compactBudget(spark, _))),
      Tier("valuehist", "fold",
        (i, s) => Streams.ingestValueHistBatch(shard(events, "event_id", i), s, i,
          groupCol = "event_type", valueCol = "value"),
        s => Streams.ingestRobustOutliers(spark, s).get,
        Some(Streams.compactValueHist(spark, _))),
      Tier("centroids", "fold",
        (i, s) => Streams.ingestCentroidsBatch(shard(emb, "vec_id", i), s, i),
        s => Streams.ingestCentroidsRead(spark, s).get,
        Some(Streams.compactCentroids(spark, _))),
      // order-sensitive: CONTIGUOUS event-id ranges, not pmod shards — id
      // order is event-time order in this corpus, and the tier's contract
      // is per-user monotone batches
      Tier("transitions", "fold",
        { (i, s) =>
          val lo = i * nEv / nBatches
          val hi = if (i == nBatches - 1) Long.MaxValue else (i + 1) * nEv / nBatches
          Streams.ingestTransitionsBatch(
            events.filter(col("event_id") >= lo && col("event_id") < hi), s, i)
        },
        s => Streams.ingestTransitionsRead(spark, s).get,
        Some(Streams.compactTransitions(spark, _))),
      // per-user candidate rows accumulate 2/user/batch until compaction
      // re-ranks them back to 2/user
      Tier("hazard", "fold",
        (i, s) => Streams.ingestHazardBatch(shard(events, "user_id", i), s, i),
        s => Streams.ingestHazardRead(spark, s).get,
        Some(Streams.compactHazard(spark, _))),
      // decode-once multimodal ingest: each batch pays the codec pass for
      // ITS payloads only
      Tier("imgfeat", "fold",
        (i, s) => Streams.ingestImageFeaturesBatch(
          Multimodal.pngCorpus(shard(docs, "doc_id", i)).toDF(), s, i),
        s => Streams.ingestImageFeaturesRead(spark, s).get,
        Some(Streams.compactImageFeatures(spark, _))))

    // optional tier subset (comma-separated SPARK_GRAFT_INGEST_TIERS):
    // a 30x corpus makes the full 11-tier sweep hours long — at scale
    // the record targets the heaviest state tiers, not all of them
    val KnownTiers = tiers.map(_.name)
    val only = sys.env.get("SPARK_GRAFT_INGEST_TIERS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { t =>
      val unknown = t -- KnownTiers.toSet
      require(unknown.isEmpty, s"unknown ingest tiers: ${unknown.mkString(",")}")
    }
    val tierParts = for (t <- tiers if only.forall(_.contains(t.name))) yield {
      val state = s"$root/${t.name}"
      def probe(): Double = probeMin(spark, () => t.probe(state))
      val points = (0 until nBatches).flatMap { i =>
        t.ingest(i, state)
        if (probed(i)) {
          val p = probe()
          System.err.println(f"[ingestbench] ${t.name} ${t.word} @ ${i + 1} batches: $p%.3f s")
          Some((i + 1, p))
        } else None
      }
      val after = t.compact match {
        case Some(compact) =>
          require(compact(state).contains((nBatches - 1).toLong))
          val p = probe()
          System.err.println(f"[ingestbench] ${t.name} ${t.word} after compact: $p%.3f s")
          p
        case None => points.last._2 // no compact: "after" = the final fold
      }
      s""""${t.name}":${tierJson(points, after)}"""
    }

    spark.stop()
    // record WHICH tiers ran: a SPARK_GRAFT_INGEST_TIERS subset sweep
    // must be distinguishable from a full 11-tier sweep downstream
    val subsetField = only match {
      case Some(t) =>
        val sel = KnownTiers.filter(t.contains)
        s""""subset":true,"tiers_run":[${sel.map("\"" + _ + "\"").mkString(",")}],"""
      case None => s""""subset":false,"""
    }
    val line = s"""{"metric":"ingest_probe","unit":"sec","batches":$nBatches,"sf":"$sfDir",$subsetField"tiers":{""" +
      tierParts.mkString(",") + "}}"
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(out, line + "\n")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "BENCH_HISTORY.jsonl")),
      s"""{"at_ms":${System.currentTimeMillis()},${line.drop(1)}""" + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable => System.err.println(s"[ingestbench] history append failed: $e") }
    println(line)
  }
}
