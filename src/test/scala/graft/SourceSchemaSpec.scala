package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import graft.infer.DatetimeFormatInfer

/** The two memos behind `Tables.t`, `Tables.parquet` and `Tables.csv`.
  * The source-schema memo: a remembered schema reads exactly what Spark's
  * inferring read does, and the second read of an unchanged source runs
  * no Spark job. The frame memo: that second read is the first read's
  * very frame, until the source, the session or one of its confs changes. */
class SourceSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The rows as sorted strings: an order-free digest of the content. */
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Reads once (inferring, unless an earlier suite already did), then
    * again, and returns the second read, which must run no job. */
  private def secondRead(group: String)(read: => DataFrame): DataFrame = {
    read
    var df: DataFrame = null
    val (jobs, _) = jobsOf(group) { df = read }
    assert(jobs == 0, s"$group: the second read of an unchanged source ran $jobs jobs")
    df
  }

  /** Same names, types, nullability and field metadata (StructField
    * equality covers all four), and the same rows. */
  private def assertSame(hit: DataFrame, fresh: DataFrame): Unit = {
    assert(hit.schema == fresh.schema, s"${hit.schema.treeString} vs ${fresh.schema.treeString}")
    assert(rowsOf(hit) == rowsOf(fresh))
  }

  /** The schema `read` resolves to, or the class and message of its error. */
  private def outcome(read: => DataFrame): String =
    Try(read.schema).fold(e => s"${e.getClass.getName}: ${e.getMessage}", _.treeString)

  test("events: a memo hit reads the inferring read's schema and rows, with no job") {
    val path = s"$SF/events.parquet"
    assertSame(secondRead("memo-events-raw")(Tables.parquet(spark, path)), spark.read.parquet(path))
    val events = secondRead("memo-events")(Tables.events(spark, SF))
    assertSame(events, Tables.normalizeSchema(spark.read.parquet(path)))
    assert(events.schema("ts").dataType == TimestampType)
  }

  test("a TIMESTAMP(NANOS) source: hits under nanosAsLong, and the conf is part of the key") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("graft-memo-nanos")
    val msg = MessageTypeParser.parseMessageType(
      "message ev { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/ev.parquet"))
      .withType(msg).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val groups = new SimpleGroupFactory(msg)
    try (0 until 5).foreach { i =>
      w.write(groups.newGroup().append("event_id", i.toLong)
        .append("ts", 1700000000000000000L + i * 1000000000L))
    } finally w.close()
    val path = s"$dir/ev.parquet"
    val ev = secondRead("memo-nanos")(Tables.t(spark, dir, "ev"))
    assertSame(ev, Tables.normalizeSchema(spark.read.parquet(path)))
    assert(Tables.parquet(spark, path).schema("ts").dataType == LongType)
    assert(ev.orderBy("event_id").select(col("ts").cast("long")).as[Long].collect().toSeq ==
      (0 until 5).map(1700000000L + _))
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    try {
      spark.conf.set(key, "false")
      var got = ""
      val (jobs, _) = jobsOf("memo-nanos-off") { got = outcome(Tables.parquet(spark, path)) }
      assert(jobs >= 1, "a changed nanosAsLong must infer again")
      assert(got == outcome(spark.read.parquet(path)))
    } finally spark.conf.set(key, "true")
    secondRead("memo-nanos-on")(Tables.parquet(spark, path))
  }

  test("a table read on a session without nanosAsLong fails naming the conf and leaves it unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    try {
      spark.conf.set(key, "false")
      val reads: Seq[(String, () => Any)] = Seq(
        "Tables.t" -> (() => Tables.t(spark, SF, "events")),
        "tumblingStreaming" -> (() => graft.streaming.EventWindows.tumblingStreaming(spark, SF)),
        "enrichStreaming" -> (() => graft.streaming.StreamEnrich.enrichStreaming(spark, SF)))
      for ((tag, read) <- reads) {
        val e = intercept[IllegalArgumentException](read())
        assert(e.getMessage.contains(key) && e.getMessage.contains("graft.Session"), s"$tag: ${e.getMessage}")
        assert(spark.conf.get(key) == "false", s"$tag changed the session's conf")
      }
    } finally spark.conf.set(key, "true")
  }

  test("DATE and DECIMAL columns: a memo hit normalizes to the same schema and rows") {
    val dir = tmp("graft-memo-orders")
    Seq((1L, "2024-01-02", "10.25"), (2L, "2024-02-03", "7.50"))
      .toDF("o_orderkey", "d", "p")
      .select(col("o_orderkey"), to_date(col("d")).as("o_orderdate"),
              col("p").cast("decimal(12,2)").as("o_totalprice"))
      .write.parquet(s"$dir/orders.parquet")
    val orders = secondRead("memo-orders")(Tables.orders(spark, dir))
    assertSame(orders, Tables.normalizeSchema(spark.read.parquet(s"$dir/orders.parquet")))
    assert(orders.schema("o_orderdate").dataType == TimestampType)
    assert(orders.schema("o_totalprice").dataType.simpleString == "double")
  }

  test("partitioned sink: a memo hit keeps the partition column and prunes at planning time") {
    val path = tmp("graft-memo-part") + "/sink"
    graft.sources.PartitionedSink.write(Tables.events(spark, SF), "event_type", path)
    val hit = secondRead("memo-part")(graft.sources.PartitionedSink.read(spark, path))
    assertSame(hit, spark.read.parquet(path))
    val scan = hit.filter(col("event_type") === "purchase").queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty)
    assert(scan.head.partitionFilters.exists(_.toString.contains("event_type")),
      s"no partition filter on scan: ${scan.head.partitionFilters}")
    assert(scan.head.selectedPartitions.partitionCount == 1)
  }

  test("loadCsv: a memo hit reads the same schema and rows, with no job") {
    val dir = tmp("graft-memo-csv")
    Files.writeString(Paths.get(dir, "a.csv"),
      "ts|v|v|n\n2024-01-01 00:00:00|1.5|x|3\n2024-01-02 06:30:00|2.25|y|4\n")
    val path = s"$dir/a.csv"
    val fresh = spark.read.option("header", "true").option("sep", "|")
      .option("inferSchema", "true").csv(path)
    assertSame(secondRead("memo-csv-raw")(Tables.csv(spark, path, "|")), fresh)
    val first = DatetimeFormatInfer.loadCsv(spark, path, "ts", "|")
    var hit: DataFrame = null
    val (jobs, _) = jobsOf("memo-csv") { hit = DatetimeFormatInfer.loadCsv(spark, path, "ts", "|") }
    assert(jobs == 0, s"a second loadCsv ran $jobs jobs")
    assertSame(hit, first)
    assert(hit.schema("ts").dataType == TimestampType)
    // a forced format reads every column as a string, under its own key
    val fmt = Some("yyyy-MM-dd HH:mm:ss")
    val forced = DatetimeFormatInfer.loadCsv(spark, path, "ts", "|", fmt)
    assertSame(secondRead("memo-csv-fmt")(DatetimeFormatInfer.loadCsv(spark, path, "ts", "|", fmt)),
      forced)
    assert(forced.schema("n").dataType.simpleString == "string")
    assert(rowsOf(forced.select("ts")) == rowsOf(hit.select("ts")))
  }

  test("a rewritten source is inferred again") {
    val path = tmp("graft-memo-rw") + "/t"
    Seq(1L, 2L).toDF("id").write.parquet(path)
    secondRead("memo-rw-1")(Tables.parquet(spark, path))
    Seq((3L, "c")).toDF("id", "x").write.mode("overwrite").parquet(path)
    var df: DataFrame = null
    val (jobs, _) = jobsOf("memo-rw-2") { df = Tables.parquet(spark, path) }
    assert(jobs >= 1, "a rewrite must infer again")
    assertSame(df, spark.read.parquet(path))
    assert(df.columns.toSeq == Seq("id", "x"))
  }

  test("a missing path or an empty directory fails with Spark's own error") {
    val missing = tmp("graft-memo-missing") + "/nope.parquet"
    val err = outcome(Tables.parquet(spark, missing))
    assert(err.contains("Exception") && err == outcome(spark.read.parquet(missing)))
    assert(outcome(Tables.csv(spark, missing, ",")) ==
      outcome(spark.read.option("header", "true").option("sep", ",")
        .option("inferSchema", "true").csv(missing)))
    val empty = tmp("graft-memo-empty")
    val before = Tables.memoSize
    val emptyErr = outcome(Tables.parquet(spark, empty))
    assert(emptyErr.contains("Exception") && emptyErr == outcome(spark.read.parquet(empty)))
    assert(Tables.memoSize == before, "a failed read must not be remembered")
  }

  test("the memo never grows past its cap and evicts the least recently used") {
    val dir = tmp("graft-memo-cap")
    val paths = (0 until Tables.MemoCap + 8).map { i =>
      val p = Paths.get(dir, s"f$i.csv")
      Files.writeString(p, s"a$i,b\n1,2\n")
      p.toString
    }
    paths.foreach { p =>
      Tables.csv(spark, p, ",", inferSchema = false)
      assert(Tables.memoSize <= Tables.MemoCap)
      assert(Tables.frameMemoSize(spark) <= Tables.MemoCap)
    }
    assert(Tables.memoSize == Tables.MemoCap)
    assert(Tables.frameMemoSize(spark) == Tables.MemoCap)
    assert(jobsOf("memo-cap-last")(Tables.csv(spark, paths.last, ",", inferSchema = false))._1 == 0)
    assert(jobsOf("memo-cap-first")(Tables.csv(spark, paths.head, ",", inferSchema = false))._1 >= 1,
      "the least recently used schema must have been evicted")
  }

  // ---- the frame memo ----------------------------------------------------

  /** The compiled-class count: Spark's codegen metric, one count per
    * generated class compiled in this JVM. */
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a frame memo hit is the same frame, with no job") {
    val dir = tmp("graft-frame-hit")
    Seq((1L, "a"), (2L, "b")).toDF("id", "x").write.parquet(s"$dir/t1.parquet")
    Files.writeString(Paths.get(dir, "c.csv"), "id|x\n1|a\n2|b\n")
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "t" -> (() => Tables.t(spark, dir, "t1")),
      "parquet" -> (() => Tables.parquet(spark, s"$dir/t1.parquet")),
      "csv" -> (() => Tables.csv(spark, s"$dir/c.csv", "|")),
      "events" -> (() => Tables.events(spark, SF)))
    for ((tag, read) <- reads) {
      val first = read()
      val hit = secondRead(s"frame-hit-$tag")(read())
      assert(hit eq first, s"$tag: a hit must return the first read's frame")
    }
    // t's frame is the normalized one, not the raw parquet frame
    assert(!(Tables.t(spark, dir, "t1") eq Tables.parquet(spark, s"$dir/t1.parquet")))
  }

  test("a rewritten source gets a new frame with the new rows") {
    val path = tmp("graft-frame-rw") + "/t"
    Seq(1L, 2L).toDF("id").write.parquet(path)
    val first = Tables.parquet(spark, path)
    assert(rowsOf(first) == Seq("[1]", "[2]"))
    Seq(7L, 8L, 9L).toDF("id").write.mode("overwrite").parquet(path)
    val second = Tables.parquet(spark, path)
    assert(!(second eq first))
    assert(rowsOf(second) == Seq("[7]", "[8]", "[9]"))
    assert(Tables.parquet(spark, path) eq second)
  }

  test("a changed session time zone misses and reads that zone's rows") {
    // normalizeSchema casts a DATE to a timestamp: the cast's zone is
    // fixed into the analyzed plan, so a frame built under UTC is wrong
    // under any other zone
    val dir = tmp("graft-frame-tz")
    Seq((1L, "2024-01-02")).toDF("o_orderkey", "d")
      .select(col("o_orderkey"), to_date(col("d")).as("o_orderdate"))
      .write.parquet(s"$dir/orders.parquet")
    def micros(df: DataFrame): Long = df.select(unix_micros(col("o_orderdate"))).as[Long].head()
    val key = "spark.sql.session.timeZone"
    val utc = Tables.orders(spark, dir)
    assert(micros(utc) == 1704153600000000L)
    try {
      spark.conf.set(key, "Asia/Tokyo")
      val tokyo = Tables.orders(spark, dir)
      assert(micros(tokyo) == 1704153600000000L - 9L * 3600 * 1000000)
      assert(!(tokyo eq utc), "a changed time zone must miss")
      assert(micros(tokyo) == micros(Tables.normalizeSchema(spark.read.parquet(s"$dir/orders.parquet"))))
      assert(Tables.orders(spark, dir) eq tokyo)
    } finally spark.conf.set(key, "UTC")
    assert(Tables.orders(spark, dir) eq utc)
  }

  test("a second session gets its own frame") {
    val other = spark.newSession()
    val mine = Tables.events(spark, SF)
    val theirs = Tables.events(other, SF)
    assert(!(theirs eq mine))
    assert(theirs.sparkSession eq other)
    assert(Tables.events(other, SF) eq theirs)
    assert(Tables.events(spark, SF) eq mine)
    assert(rowsOf(theirs) == rowsOf(mine))
  }

  test("a second classifyTable of a table compiles no class") {
    graft.infer.ColumnClassifier.classifyTable(Tables.customer(spark, SF)).collect()
    val before = compiled
    graft.infer.ColumnClassifier.classifyTable(Tables.customer(spark, SF)).collect()
    assert(compiled - before == 0, s"the second classifyTable compiled ${compiled - before} classes")
  }

  test("a join of two loads of one table gives the rows of two separate reads") {
    // two loads are one frame, so these are self-joins: an equality of
    // Dataset-bound refs still resolves to both sides, and a Dataset-bound
    // ref that cannot tell the sides apart fails loudly, never silently
    val raw = () => Tables.normalizeSchema(spark.read.parquet(s"$SF/events.parquet"))
    def joins(a: DataFrame, b: DataFrame): Seq[Seq[String]] = {
      val small = a.filter(col("value") > 50).select("event_id", "user_id", "ts")
      val perUser = b.groupBy("user_id").agg(max("ts").as("last"), count(lit(1)).as("n"))
      Seq(
        rowsOf(a.join(b, a("event_id") === b("event_id"))),
        rowsOf(small.join(perUser, small("user_id") === perUser("user_id"))),
        rowsOf(small.join(perUser, Seq("user_id"))),
        rowsOf(a.as("l").join(b.as("r"), col("l.ts") < col("r.ts") && col("l.user_id") === col("r.user_id"))
          .select(col("l.event_id"), col("r.event_id"))))
    }
    val (a, b) = (Tables.events(spark, SF), Tables.events(spark, SF))
    val got = joins(a, b)
    assert(got == joins(raw(), raw()))
    assert(got.forall(_.nonEmpty))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      a.join(b, a("event_id") === b("event_id")).select(b("value")).collect()
    }
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
  }

  test("the listing digest is the one a listFiles walk gives") {
    import java.security.MessageDigest
    import org.apache.hadoop.fs.Path
    val dir = tmp("graft-frame-digest")
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.partitionBy("k").parquet(s"$dir/p")
    for (path <- Seq(s"$dir/p", s"$SF/events.parquet")) {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}").toVector.sorted
      val sha = MessageDigest.getInstance("SHA-256")
      files.foreach(f => sha.update((f + "\n").getBytes("UTF-8")))
      assert(Tables.listing(spark, path).contains(
        s"${fs.makeQualified(p)}\u0000${sha.digest().map("%02x".format(_)).mkString}"), path)
    }
  }
}
