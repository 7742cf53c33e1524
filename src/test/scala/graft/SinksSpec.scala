package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sinks.Sinks

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-sink").toString

  test("upsertByKey replaces only the buckets of the incoming batch") {
    val path = tmpDir() + "/t"
    val base = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "value")
    Sinks.upsertByKey(base, path, "id", nBuckets = 8)
    assert(spark.read.parquet(path).count() == 100)

    // update two keys + insert one new key
    val batch = Seq((1L, "v1-new"), (2L, "v2-new"), (1000L, "fresh")).toDF("id", "value")
    Sinks.upsertByKey(batch, path, "id", nBuckets = 8)

    val got = spark.read.parquet(path).select("id", "value")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "v1-new")
    assert(got(2L) == "v2-new")
    assert(got(1000L) == "fresh")
    // keys in untouched buckets survive
    val untouchedBuckets = spark.read.parquet(path)
      .where(col("id") === 50L).count()
    assert(untouchedBuckets == 1)
    // NOTE: keys sharing a bucket with the batch but absent from it are
    // dropped — replace-partition semantics; callers upsert FULL bucket
    // contents (merge first) when that matters, as the reference's
    // upsert does per _id.
  }

  test("upsertByKey writes at most one file per bucket per write") {
    val path = tmpDir() + "/b"
    def dataFiles(): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(java.nio.file.Paths.get(path))) { w =>
        w.iterator().asScala.toList
          .filter(f => f.getFileName.toString.endsWith(".parquet"))
          .groupBy(_.getParent.getFileName.toString).map { case (b, fs) => b -> fs.size }
      }
    }
    // 8 input partitions, every one holding keys of every bucket
    val df = (0L until 4000L).toDF("id").withColumn("v", col("id") * 2).repartition(8)
    Sinks.upsertByKey(df, path, "id", nBuckets = 16)
    val files = dataFiles()
    assert(files.size == 16 && files.values.forall(_ == 1), s"files per bucket: $files")
    assert(spark.read.parquet(path).count() == 4000L)
  }

  test("jsonl sink drops null fields") {
    val path = tmpDir() + "/j"
    Sinks.writeJsonl(Seq(("a", Option.empty[String], 1L)).toDF("id", "desc", "n"), path)
    val line = spark.read.text(path).as[String].collect().head
    assert(line == """{"id":"a","n":1}""")
  }

  test("tsv sink writes header and tab separation") {
    val path = tmpDir() + "/c"
    Sinks.writeTsv(Seq((1L, "x")).toDF("k", "v"), path)
    val lines = spark.read.text(path).as[String].collect().toSeq.sorted
    assert(lines == Seq("1\tx", "k\tv"))
  }

  test("mongo connector seam: insert and replace-by-key option contracts") {
    // S12 plain insert (search/decorate.js:145-165)
    val ins = Sinks.mongoWriterOptions(
      "mongodb://host:27017", "gramene", "genes")
    assert(ins == Map(
      "connection.uri" -> "mongodb://host:27017",
      "database" -> "gramene",
      "collection" -> "genes",
      "operationType" -> "insert"))
    // S13 upsert-by-_id (trees/speciesTree.js:230-252
    // update({_id},doc,{upsert:true}) -> idempotent replace-by-key)
    val ups = Sinks.mongoWriterOptions(
      "mongodb://host:27017", "gramene", "trees", upsertKey = Some("_id"))
    assert(ups("operationType") == "replace")
    assert(ups("idFieldList") == "_id")
    assert(Sinks.MongoFormat == "mongodb")
    // the deployment wiring is valid writer syntax end-to-end up to the
    // (offline-absent) connector lookup: format resolution must be the
    // ONLY failure, proving nothing upstream of the seam is broken
    val w = Seq((1L, "x")).toDF("_id", "v").write
      .format(Sinks.MongoFormat).options(ups).mode("append")
    val e = intercept[Exception](w.save())
    val msg = (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")).toLowerCase
    assert(msg.contains("mongodb") || msg.contains("failed to find"),
      s"expected a data-source-lookup failure, got: ${e.getMessage}")
  }

  test("withRejects splits errors to a side file") {
    val path = tmpDir() + "/e"
    val df = Seq((1L, "ok"), (-5L, "bad")).toDF("id", "s")
    val clean = Sinks.withRejects(df, col("id") > 0, path)
    assert(clean.select("id").as[Long].collect().toSeq == Seq(1L))
    val rejects = spark.read.json(path)
    assert(rejects.count() == 1)
    assert(rejects.select("id").as[Long].head() == -5L)
  }
}
