package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the benchmark tables (`/root/testdata/sf<N>/<name>.parquet`).
  *
  * The reference's only source is a newline-delimited text scan
  * (reference `src/main.c:10-28`); our engine's scale-bearing source is
  * columnar parquet, where Catalyst pushes filters and prunes columns at
  * the scan. Text sources are still available via [[text]].
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table, reusing its inferred schema while the table's files
    * and the session's inference confs are unchanged ([[readParquet]]).
    * `events` needs special-casing when the driver's
    * data generation wrote TIMESTAMP(NANOS), which Spark reads as a raw
    * long (see
    * `spark.sql.legacy.parquet.nanosAsLong`); convert to a microsecond
    * timestamp here. The conversion is exact 64-bit integer FLOOR
    * division (`div` alone truncates toward zero, which would land 1 µs
    * late for pre-epoch values; a float-division-then-floor would round
    * through double, whose 2^53 exact-integer range epoch-nanosecond
    * values exceed) — the µs boundary at-or-before the ns instant,
    * matching an oracle engine's timeline truncation on either side of
    * the epoch.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
    else df
  }

  /** The session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** What an inferred schema depends on: every file under the table path
    * (name, length, mtime) and the inference confs of the reading session.
    */
  private final case class Fingerprint(
      files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  /** The schema each table path last inferred to, with the fingerprint it
    * was inferred under — the role a metastore plays for catalog tables.
    * Schemas only, never data or plans, so cache clearing and checkpoint
    * release are unaffected. One entry per path; a changed fingerprint
    * replaces it.
    */
  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  private def fingerprint(spark: SparkSession, path: String): Option[Fingerprint] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(Fingerprint(files.result().sorted, InferenceConfs.map(spark.conf.getOption)))
    }
  }

  /** `spark.read.parquet(path)`, inferring the schema only when the path's
    * fingerprint differs from the one its cached schema was inferred under.
    * Inference lists the files and runs one Spark job per call; a read
    * with the schema given runs none. A missing path reads uncached so the
    * reader raises its own error.
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(fp) => Option(schemas.get(path)) match {
        case Some((`fp`, schema)) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          schemas.put(path, (fp, df.schema))
          df
      }
    }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Newline-delimited text source — the reference's input model
    * (reference `src/main.c:17`, `getline` loop). One Dataset row per line.
    */
  def text(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.textFile(paths: _*).toDF("line")
}
