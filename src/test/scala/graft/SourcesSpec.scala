package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import graft.sources.Tables

/** Source/sink coverage beyond the benchmark parquet: CSV and JSON
  * round-trips (schema preserved, values identical) and a
  * date-partitioned parquet sink whose partitions actually prune at
  * the scan — the layout a 100 TB events table lives in. Also the
  * `Tables.load` schema cache: a repeat load infers nothing, a rewritten
  * table or a changed inference conf infers again.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(name: String) = s"/tmp/graft_sources/$name"

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"sources-spec-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "schema cache probe")
    try {
      val out = body
      ListenerBusFlush(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** An `events` table whose `ts` is TIMESTAMP(NANOS) — the older data
    * layout `Tables.load` converts — with pre-epoch and sub-µs instants.
    * Returns (event_id, ts in ns).
    */
  private def writeNanosEvents(dir: String): Seq[(Long, Long)] = {
    val table = new Path(s"$dir/events.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    table.getFileSystem(conf).delete(table, true)
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val rows = Seq(1L -> -1500L, 2L -> -1000L, 3L -> 0L, 4L -> 999L,
      5L -> 1700000000123456789L)
    val w = ExampleParquetWriter.builder(new Path(table, "part-0.parquet"))
      .withType(schema).withConf(conf).build()
    val g = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ns) => w.write(g.newGroup().append("event_id", id).append("ts", ns)) }
    finally w.close()
    rows
  }

  test("schema cache: a repeat load starts no job and returns an equal schema") {
    val (first, _) = jobsDuring(Tables.load(spark, TestSpark.Sf0001, "orders"))
    val (again, jobs) = jobsDuring(Tables.load(spark, TestSpark.Sf0001, "orders"))
    assert(jobs == 0, "a cached schema must not be inferred again")
    assert(again.schema == first.schema)
    assert(again.count() == first.count())
  }

  test("schema cache: a table rewritten at the same path is inferred again") {
    import spark.implicits._
    val dir = tmp("rewrite")
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    assert(jobsDuring(Tables.load(spark, dir, "t"))._2 == 0)
    Seq((1L, "a", 2.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (df, jobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(jobs > 0, "a rewritten table must be inferred again")
    assert(df.columns.toSeq == Seq("k", "v", "w"))
    assert(df.collect().map(_.toSeq).toSeq == Seq(Seq(1L, "a", 2.5)))
  }

  test("schema cache: a hit still converts nanosecond events.ts to µs timestamps") {
    val dir = tmp("nanos_events")
    val rows = writeNanosEvents(dir)
    def read(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_id").select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (fresh, inferJobs) = jobsDuring(Tables.load(spark, dir, "events"))
    assert(inferJobs > 0, "a new path must be inferred")
    val (hit, hitJobs) = jobsDuring(Tables.load(spark, dir, "events"))
    assert(hitJobs == 0)
    assert(fresh.schema("ts").dataType == TimestampType)
    assert(hit.schema("ts").dataType == TimestampType)
    assert(read(hit) == read(fresh))
    assert(read(hit) == rows.map { case (id, ns) => (id, Math.floorDiv(ns, 1000L)) })
  }

  test("schema cache: flipping nanosAsLong infers again instead of reusing the schema") {
    val dir = tmp("nanos_flip")
    writeNanosEvents(dir)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType == LongType)
    Tables.load(spark, dir, "events")
    assert(jobsDuring(Tables.load(spark, dir, "events"))._2 == 0)
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      // without the flag the reader has no type for TIMESTAMP(NANOS);
      // only a stale cached schema would let this load succeed
      val (outcome, jobs) = jobsDuring(scala.util.Try(Tables.load(spark, dir, "events")))
      assert(jobs > 0, "a changed inference conf must trigger a new inference")
      assert(outcome.isFailure, s"expected the NANOS column to be rejected, got $outcome")
    } finally spark.conf.set(key, before)
    // the failed inference cached nothing: the original entry still serves
    val (back, jobs) = jobsDuring(Tables.load(spark, dir, "events"))
    assert(jobs == 0)
    assert(back.schema("ts").dataType == TimestampType)
  }

  test("csv round-trip: orders survive header+schema read unchanged") {
    val orig = Tables.load(spark, TestSpark.Sf0001, "orders")
    orig.write.mode("overwrite").option("header", "true").csv(tmp("orders_csv"))
    val back = spark.read.option("header", "true").schema(orig.schema).csv(tmp("orders_csv"))
    assert(back.schema == orig.schema)
    val a = orig.orderBy("o_orderkey").collect().map(_.toSeq)
    val b = back.orderBy("o_orderkey").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("json-lines round-trip: nested-free table survives unchanged") {
    val orig = Tables.load(spark, TestSpark.Sf0001, "customer")
    orig.write.mode("overwrite").json(tmp("customer_json"))
    val back = spark.read.schema(orig.schema).json(tmp("customer_json"))
    val a = orig.orderBy("c_custkey").collect().map(_.toSeq)
    val b = back.orderBy("c_custkey").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("orc round-trip: columnar sibling format preserves schema and values") {
    val orig = Tables.load(spark, TestSpark.Sf0001, "lineitem")
    orig.write.mode("overwrite").orc(tmp("lineitem_orc"))
    val back = spark.read.orc(tmp("lineitem_orc"))
    assert(back.schema == orig.schema)
    assert(back.count() == orig.count())
    val a = orig.orderBy("l_orderkey", "l_linenumber").limit(100).collect().map(_.toSeq)
    val b = back.orderBy("l_orderkey", "l_linenumber").limit(100).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("date-partitioned sink prunes partitions at the scan") {
    val ev = Tables.load(spark, TestSpark.Sf0001, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("day").parquet(tmp("events_by_day"))

    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getString(0))
    assert(days.length > 1, "need multiple partitions to prove pruning")
    val target = days(days.length / 2)

    val filtered = spark.read.parquet(tmp("events_by_day"))
      .filter(col("day") === target)
    val plan = TestSpark.finalPlan(filtered)
    assert(plan.contains(s"PartitionFilters: [isnotnull(day"),
      s"day filter did not become a partition filter:\n${plan.take(1500)}")
    // the physical scan must touch only the one matching directory
    val scanned = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("PartitionFilters: []"), "no partition filter at the leaf scan")
    // and the row count equals that day's rows, read without a post-filter
    val expected = ev.filter(col("day") === target).count()
    assert(filtered.count() == expected)
  }

  test("binaryFile source: payload files become Blob rows, ids from names, fail-loud contract") {
    import graft.operators.Multimodal
    val dir = new java.io.File(tmp("payloads")); dir.mkdirs()
    dir.listFiles().foreach(_.delete())
    val payloads = Map(3L -> Array.tabulate(64)(i => (i * 7 % 251).toByte),
      12L -> Array.tabulate(200)(i => (255 - i % 256).toByte),
      47L -> "tiny".getBytes("UTF-8"))
    payloads.foreach { case (id, bytes) =>
      java.nio.file.Files.write(
        new java.io.File(dir, s"$id.bin").toPath, bytes)
    }
    val blobs = Multimodal.blobsFromFiles(spark, dir.getAbsolutePath)
      .collect().map(b => b.doc_id -> b.bytes).toMap
    assert(blobs.keySet == payloads.keySet)
    payloads.foreach { case (id, bytes) =>
      assert(java.util.Arrays.equals(blobs(id), bytes), s"bytes differ for $id")
    }
    // features over the file-sourced payloads == features over the same
    // bytes ingested any other way (the decode contract is source-blind)
    val feats = Multimodal.extractFeatures(
        Multimodal.blobsFromFiles(spark, dir.getAbsolutePath))
      .collect().map(f => f.doc_id -> f).toMap
    payloads.foreach { case (id, bytes) =>
      assert(feats(id).n_bytes == bytes.length)
      assert(feats(id).histogram.sum == bytes.length,
        "histogram must conserve every byte")
    }
    // a file without a numeric id must fail loudly, not renumber
    java.nio.file.Files.write(
      new java.io.File(dir, "noid.bin").toPath, Array[Byte](1, 2))
    assertThrows[IllegalArgumentException] {
      Multimodal.blobsFromFiles(spark, dir.getAbsolutePath)
    }
    // a trailing-digit name like img_001.jpg must ALSO fail — an
    // unanchored match would silently renumber it to 1
    new java.io.File(dir, "noid.bin").delete()
    java.nio.file.Files.write(
      new java.io.File(dir, "img_001.jpg").toPath, Array[Byte](3))
    assertThrows[IllegalArgumentException] {
      Multimodal.blobsFromFiles(spark, dir.getAbsolutePath)
    }
    // duplicate ids across extensions must fail, not merge payloads
    new java.io.File(dir, "img_001.jpg").delete()
    java.nio.file.Files.write(
      new java.io.File(dir, "3.jpg").toPath, Array[Byte](9))
    val ex = intercept[IllegalArgumentException] {
      Multimodal.blobsFromFiles(spark, dir.getAbsolutePath)
    }
    assert(ex.getMessage.contains("duplicate"))
  }

  test("binaryFile → real WAV decode: file-sourced payloads decode to the analytic features") {
    import graft.operators.Multimodal
    // actual .wav files on disk, ingested executor-side through the
    // binaryFile source and decoded by the REAL javax.sound codec —
    // the full production path for an audio corpus, end to end
    val dir = new java.io.File(tmp("wav_payloads")); dir.mkdirs()
    dir.listFiles().foreach(_.delete())
    val ids = Seq(7L, 33L, 480L)
    ids.foreach { id =>
      java.nio.file.Files.write(new java.io.File(dir, s"$id.wav").toPath,
        Multimodal.encodeSynthWav(id))
    }
    val feats = Multimodal.extractAudioFeatures(
        Multimodal.blobsFromFiles(spark, dir.getAbsolutePath))
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats.keySet == ids.toSet)
    ids.foreach { id =>
      val n = Multimodal.synthAudioLen(id)
      assert(feats(id).sample_rate == 8000L && feats(id).n_samples == n,
        s"file $id.wav header")
      val want = new Array[Long](16)
      for (i <- 0 until n)
        want((Multimodal.synthAudioSample(id, i) + 32768) >> 12) += 1
      assert(feats(id).amp_hist == want.toSeq, s"file $id.wav histogram")
    }
  }

  test("binaryFile → mixed WAV/AIFF/AU decode: every JDK PCM container rides the production path") {
    import graft.operators.Multimodal
    // one file per container family on disk, ingested executor-side
    // through binaryFile and decoded by the REAL javax.sound codec —
    // the q224 production path, per container, end to end
    val dir = new java.io.File(tmp("mixed_audio_payloads")); dir.mkdirs()
    dir.listFiles().foreach(_.delete())
    val files = Seq(11L -> "wav", 12L -> "aiff", 13L -> "au")
    files.foreach { case (id, fmt) =>
      java.nio.file.Files.write(new java.io.File(dir, s"$id.$fmt").toPath,
        Multimodal.encodeSynthAudio(id, fmt))
    }
    val feats = Multimodal.extractAudioFeatures(
        Multimodal.blobsFromFiles(spark, dir.getAbsolutePath))
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats.keySet == files.map(_._1).toSet)
    files.foreach { case (id, fmt) =>
      val n = Multimodal.synthAudioLen(id)
      assert(feats(id).sample_rate == 8000L && feats(id).n_samples == n,
        s"file $id.$fmt header")
      val want = new Array[Long](16)
      for (i <- 0 until n)
        want((Multimodal.synthAudioSample(id, i) + 32768) >> 12) += 1
      assert(feats(id).amp_hist == want.toSeq, s"file $id.$fmt histogram")
    }
  }

  test("binaryFile → real PNG decode: file-sourced payloads decode to the analytic features") {
    import graft.operators.Multimodal
    // actual .png files on disk, ingested executor-side through the
    // binaryFile source and decoded by the REAL ImageIO codec — the
    // full production path for an image corpus, end to end
    val dir = new java.io.File(tmp("png_payloads")); dir.mkdirs()
    dir.listFiles().foreach(_.delete())
    val ids = Seq(5L, 21L, 300L)
    ids.foreach { id =>
      java.nio.file.Files.write(new java.io.File(dir, s"$id.png").toPath,
        Multimodal.encodeSynthPng(id))
    }
    val feats = Multimodal.extractImageFeatures(
        Multimodal.blobsFromFiles(spark, dir.getAbsolutePath))
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats.keySet == ids.toSet)
    ids.foreach { id =>
      val (w, h) = Multimodal.synthDims(id)
      assert(feats(id).width == w && feats(id).height == h, s"file $id.png dims")
      val want = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w)
        want(Multimodal.synthPixel(id, x, y) >> 4) += 1
      assert(feats(id).lum_hist == want.toSeq, s"file $id.png histogram")
    }
  }
}
