package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Canary for the scan seam. The driver regenerates /root/testdata
  * between rounds and has already drifted the physical timestamp type
  * twice (TIMESTAMP(NANOS) → timestamp[us]-no-tz / TIMESTAMP_NTZ);
  * round 8 lost 10 queries and 8 suites to that drift because the
  * breakage surfaced at the first analysis of each consumer. This spec
  * pins the canonical POST-adapter schema per table, so the next regen
  * breaks exactly one focused test with a message naming the table and
  * the drifted column instead of failing consumers at a distance.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs: Seq[String] =
    Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")
      .filter(d => new java.io.File(d).exists())

  // Canonical contract: what every operator downstream of Tables may
  // assume. Timestamps are tz-aware TimestampType (never NTZ, never
  // raw long), keys are fixed integral widths, embeddings are
  // Array[Float].
  private val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** Spark jobs started by `body` on this thread, and its value. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("tablesSpec.probe") == tag)
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty("tablesSpec.probe", tag)
    try {
      val v = body
      org.apache.spark.ListenerBusHook.drain(sc)
      (n.get, v)
    } finally {
      sc.setLocalProperty("tablesSpec.probe", null)
      sc.removeSparkListener(l)
    }
  }

  /** A one-file table under a fresh dir, big enough (≈3 MB, one split)
    * that [[Tables.load]] fans it out.
    */
  private def tmpTable(extra: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    spark.range(0, 50000).selectExpr(Seq("id", "sha2(cast(id as string), 256) as h") ++ extra: _*)
      .coalesce(1).write.parquet(s"$dir/t.parquet")
    dir
  }

  private def fanOut(df: org.apache.spark.sql.DataFrame): Option[Int] =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.numPartitions
    }

  test("a memo hit starts no Spark job and resolves like the cold load") {
    val dir = tmpTable("cast(timestamp_micros(id) as timestamp_ntz) as t")
    val (coldJobs, cold) = jobsOf(Tables.load(spark, dir, "t"))
    val (hitJobs, hit) = jobsOf(Tables.load(spark, dir, "t"))
    assert(coldJobs > 0, "the cold load must infer the schema")
    assert(hitJobs == 0, s"a memo hit started $hitJobs Spark jobs")
    assert(hit.schema == cold.schema && hit.schema("t").dataType == TimestampType)
    assert(fanOut(cold) == Some(spark.sparkContext.defaultParallelism))
    assert(fanOut(hit) == fanOut(cold))
    assert(hit.collect().toSet == cold.collect().toSet)
  }

  test("rewriting a table file (new length or new mtime) infers again") {
    val dir = tmpTable()
    Tables.load(spark, dir, "t")
    spark.range(0, 10).selectExpr("id", "'x' as h", "id * 2 as extra")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (jobs, df) = jobsOf(Tables.load(spark, dir, "t"))
    assert(jobs > 0 && df.columns.toSeq == Seq("id", "h", "extra"),
      s"stale schema after a rewrite: ${df.columns.mkString(",")}")
    assert(fanOut(df).isEmpty, "a 10-row table must not fan out")
    import scala.jdk.CollectionConverters._
    val part = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/t.parquet"))) {
      _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    }
    java.nio.file.Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime
      .fromMillis(java.nio.file.Files.getLastModifiedTime(part).toMillis + 60000L))
    assert(jobsOf(Tables.load(spark, dir, "t"))._1 > 0, "a touched file must re-probe")
    assert(jobsOf(Tables.load(spark, dir, "t"))._1 == 0)
  }

  test("changing spark.sql.legacy.parquet.nanosAsLong changes the memo key") {
    val dir = tmpTable()
    Tables.load(spark, dir, "t")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, (!before.contains("true")).toString)
    try assert(jobsOf(Tables.load(spark, dir, "t"))._1 > 0)
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("two loads of one table in one query are distinct relations " +
      "(a self-join resolves without an ambiguity error)") {
    val dir = tmpTable()
    val a = Tables.load(spark, dir, "t")
    val b = Tables.load(spark, dir, "t")
    assert(a.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(b.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    val j = a.join(b, a("id") === b("id") + 1)
    assert(j.count() == 49999L)
  }

  test("post-adapter schemas match the canonical contract at every SF") {
    assert(sfDirs.nonEmpty, "no /root/testdata sf dirs found")
    assert(canonical.keySet == Tables.names.toSet,
      "TablesSpec canonical map out of sync with Tables.names")
    for (dir <- sfDirs; name <- Tables.names) {
      // events must go through its dedicated adapter ONLY — a raw load
      // of nanos-era data throws before the adapter's conf is set
      val got =
        if (name == "events") Tables.events(spark, dir)
        else Tables.load(spark, dir, name)
      val actual = got.schema.fields.toSeq.map(f =>
        f.name -> (f.dataType match {
          // embeddings element nullability varies by writer; the
          // contract is the element type, not its nullable flag
          case ArrayType(et, _) => ArrayType(et)
          case dt => dt
        }))
      assert(actual == canonical(name),
        s"\nDRIVER DATA DRIFT at $dir/$name.parquet:" +
          s"\n  expected ${canonical(name).mkString(", ")}" +
          s"\n  actual   ${actual.mkString(", ")}" +
          "\nFix graft.core.Tables' adapter for this table, then " +
          "update this contract if the change is intentional.")
    }
  }

  test("no table leaks TIMESTAMP_NTZ or raw-long timestamps downstream") {
    for (dir <- sfDirs.take(1); name <- Tables.names) {
      val df = if (name == "events") Tables.events(spark, dir)
      else Tables.load(spark, dir, name)
      val leaked = df.schema.fields.filter(_.dataType == TimestampNTZType)
      assert(leaked.isEmpty,
        s"$name: NTZ columns escaped the adapter: ${leaked.map(_.name).mkString(",")}")
    }
  }

  test("NTZ→TimestampType cast is value-preserving under the pinned UTC session") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "harness must pin UTC for the NTZ cast to be lossless")
    val dir = sfDirs.head
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case TimestampNTZType =>
        // INDEPENDENT derivation on each side (re-applying the same
        // cast on both would be a tautology): the raw NTZ max collects
        // as a JVM LocalDateTime — naive wall-clock fields, untouched
        // by any session timezone — and the canonical max as an
        // Instant. The cast is value-preserving iff the naive fields
        // read AS UTC name the same instant. A session tz drift or a
        // shifting cast moves the Instant side only, failing this.
        val rawMax = raw.agg(max(col("ts"))).head()
          .getAs[java.time.LocalDateTime](0) // NTZ always collects naive
        val canonMax = Tables.events(spark, dir)
          .agg(max(col("ts"))).head().get(0) match {
            case t: java.sql.Timestamp => t.toInstant // java8API off
            case i: java.time.Instant  => i           // java8API on
          }
        assert(rawMax.toInstant(java.time.ZoneOffset.UTC) == canonMax,
          s"NTZ cast shifted values: raw(naive)=$rawMax canonical=$canonMax")
      case TimestampType => succeed // driver regenerated tz-aware: nothing to prove
      case other =>
        // nanos-as-long era data, or a new drift: the schema test
        // already pins the post-adapter shape; nothing NTZ to check.
        succeed
    }
  }
}
