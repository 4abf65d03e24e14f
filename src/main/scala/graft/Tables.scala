package graft

import java.security.MessageDigest

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType, StructType, TimestampNTZType}

/** Test-table loader for the driver-generated star schema (TESTDATA.md).
  *
  * Every loader routes through [[normalizeSchema]]: the generator's
  * PHYSICAL encodings have drifted across rounds (r9 regenerated
  * events.ts as TIMESTAMP(NANOS), breaking 10 queries), so all tables
  * are normalized to one canonical LOGICAL schema at load, and
  * CoreOpsSpec's canonical-schema test fails the suite — not the
  * correctness run — if a future regeneration drifts further.
  *
  * Every file read in the program that needs Spark to work out a schema
  * goes through [[parquet]] or [[csv]], which remember the schema Spark
  * inferred for a source (SourceReadGuardSpec enforces this). Inferring
  * a Parquet schema is a distributed footer-merge job even for one file
  * (about 0.1 s warm on 4 cores), and an inferring CSV read is two jobs;
  * with the remembered schema the read runs none, and file listing and
  * planning are unchanged.
  *  - What is memoized: only the schema Spark's own inferring read
  *    returned the first time a source was read, before
  *    [[normalizeSchema]] (which still applies on top).
  *  - The key: the qualified path, a digest of its leaf-file listing
  *    (each file's path, length and modification time), and the session
  *    confs that steer inference ([[ParquetInferConfs]], and for CSV the
  *    sep and inferSchema options plus [[CsvInferConfs]]).
  *    Rewriting a source changes its listing, so the next read infers
  *    again; so does changing one of those confs.
  *  - A path that cannot be listed (missing, or a glob) takes Spark's
  *    plain inferring read, so it fails or resolves exactly as before.
  *  - The cap: at most [[MemoCap]] schemas, least recently used evicted.
  *  - Ownership: one memo per JVM, held here and shared by every session
  *    (the key carries the session confs that matter). No lock is held
  *    while a Spark job runs — a get, then a put — so two racing first
  *    reads only infer the same schema twice. */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    requireNanosAsLong(spark)
    normalizeSchema(parquet(spark, s"$dir/$name.parquet"))
  }

  /** The conf a table read needs: a TIMESTAMP(NANOS) column (the events
    * table's ts in some testdata generations) reads only as a long under
    * it. [[graft.Session]] sets it. A read on a session without it fails
    * here, naming the conf, and leaves the session's confs as they are. */
  def requireNanosAsLong(spark: SparkSession): Unit = {
    val v = spark.conf.get(NanosAsLong)
    if (!v.trim.equalsIgnoreCase("true")) throw new IllegalArgumentException(
      s"graft's table reads need $NanosAsLong=true (a TIMESTAMP(NANOS) column reads only as a " +
      s"long under it); this session has '$v'. Build the session with graft.Session, or set " +
      "the conf before reading.")
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `spark.read.parquet(path)`, inferring the schema only on the first
    * read of an unchanged source (see the object doc). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    memoRead(spark, path, "parquet" +: ParquetInferConfs.map(confOf(spark, _)))(
      _.parquet(path))

  /** `spark.read.csv(path)` of a file with a header line, inferring the
    * schema (the column types, or with `inferSchema` off the header's
    * column names) only on the first read of an unchanged source. */
  def csv(spark: SparkSession, path: String, sep: String,
          inferSchema: Boolean = true): DataFrame =
    memoRead(spark, path,
             Seq("csv", sep, inferSchema.toString) ++ CsvInferConfs.map(confOf(spark, _)))(
      _.option("header", "true").option("sep", sep)
        .option("inferSchema", inferSchema.toString).csv(path))

  /** Session confs that change what Parquet schema inference returns. */
  private val ParquetInferConfs: Seq[String] = Seq(
    NanosAsLong, "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Session confs that change what CSV schema inference returns. */
  private val CsvInferConfs: Seq[String] = Seq(
    "spark.sql.session.timeZone", "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy")

  /** Most schemas the memo holds. */
  private[graft] val MemoCap = 64

  private val schemaMemo =
    new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, StructType]): Boolean =
        size() > MemoCap
    }

  /** Schemas held now (for tests of the cap). */
  private[graft] def memoSize: Int = schemaMemo.synchronized(schemaMemo.size())

  private def confOf(spark: SparkSession, key: String): String =
    spark.conf.getOption(key).getOrElse("")

  private def memoRead(spark: SparkSession, path: String, conf: Seq[String])(
      load: DataFrameReader => DataFrame): DataFrame =
    listing(spark, path) match {
      case None => load(spark.read)
      case Some(files) =>
        val key = (files +: conf).mkString("\u0000")
        schemaMemo.synchronized(Option(schemaMemo.get(key))) match {
          case Some(schema) => load(spark.read.schema(schema))
          case None =>
            val df = load(spark.read)
            schemaMemo.synchronized(schemaMemo.put(key, df.schema))
            df
        }
    }

  /** The qualified path plus a SHA-256 of its leaf files' paths, lengths
    * and modification times; None when it cannot be listed. */
  private def listing(spark: SparkSession, path: String): Option[String] = Try {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}").toVector.sorted
    val sha = MessageDigest.getInstance("SHA-256")
    files.foreach(f => sha.update((f + "\n").getBytes("UTF-8")))
    s"${fs.makeQualified(p)}\u0000${sha.digest().map("%02x".format(_)).mkString}"
  }.toOption

  /** Columns whose logical type is TIMESTAMP; a raw LongType here means
    * the generator emitted TIMESTAMP(NANOS) (readable only as nanos-long
    * under the legacy conf). */
  private val TemporalCols = Set("ts", "o_orderdate", "l_shipdate")

  /** Normalize one physical-encoding drift class per match arm:
    * nanos-long / NTZ / DATE temporals → TimestampType (session tz is
    * pinned UTC, so wall-clock casts preserve instants), DECIMAL money
    * columns → the canonical double. Plain projections only — safe for
    * streaming DataFrames too. */
  def normalizeSchema(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case TimestampNTZType =>
          acc.withColumn(f.name, col(f.name).cast("timestamp"))
        case LongType if TemporalCols(f.name) =>
          acc.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000")))
        case DateType if TemporalCols(f.name) =>
          acc.withColumn(f.name, col(f.name).cast("timestamp"))
        case _: DecimalType =>
          acc.withColumn(f.name, col(f.name).cast("double"))
        case _ => acc
      }
    }

  /** Back-compat alias used by the streaming readers (which read the
    * parquet directory directly and must apply the same projection). */
  def normalizeEventTs(df: DataFrame): DataFrame = normalizeSchema(df)

  /** Canonical logical schema per table, asserted by CoreOpsSpec. */
  val canonicalSchemas: Map[String, Map[String, String]] = Map(
    "region"   -> Map("r_regionkey" -> "int", "r_name" -> "string"),
    "nation"   -> Map("n_nationkey" -> "int", "n_name" -> "string",
                      "n_regionkey" -> "int"),
    "customer" -> Map("c_custkey" -> "bigint", "c_name" -> "string",
                      "c_nationkey" -> "int", "c_acctbal" -> "double",
                      "c_mktsegment" -> "string"),
    "supplier" -> Map("s_suppkey" -> "bigint", "s_name" -> "string",
                      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part"     -> Map("p_partkey" -> "bigint", "p_name" -> "string",
                      "p_brand" -> "string", "p_type" -> "string",
                      "p_size" -> "int", "p_retailprice" -> "double"),
    "orders"   -> Map("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
                      "o_orderstatus" -> "string", "o_totalprice" -> "double",
                      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Map("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
                      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
                      "l_quantity" -> "double", "l_extendedprice" -> "double",
                      "l_discount" -> "double", "l_tax" -> "double",
                      "l_returnflag" -> "string", "l_linestatus" -> "string",
                      "l_shipdate" -> "timestamp"),
    "events"   -> Map("event_id" -> "bigint", "ts" -> "timestamp",
                      "user_id" -> "bigint", "event_type" -> "string",
                      "value" -> "double", "props" -> "string"),
    "documents" -> Map("doc_id" -> "bigint", "text" -> "string",
                       "lang" -> "string", "source" -> "string",
                       "n_chars" -> "bigint"),
    "embeddings" -> Map("vec_id" -> "bigint", "embedding" -> "array<float>",
                        "label" -> "int"))

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
