package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Output edges (SURVEY §2.1 S12-S15). The reference's MongoDB
  * insert/upsert sinks become idempotent table writes; JSONL-stdout and
  * TSV-report sinks become file writes. All writers go through the
  * DataFrame writer so they distribute (one file per partition) —
  * no driver-side collect.
  *
  * ==MongoDB connector seam==
  * A deployment that must land in a live MongoDB (the reference's
  * `collection.insert` / `update({_id},doc,{upsert:true})` edges,
  * `search/decorate.js:145-165`, `trees/speciesTree.js:230-252`) swaps
  * the parquet writer here for the public `mongo-spark-connector`
  * (`org.mongodb.spark:mongo-spark-connector`, Maven Central) —
  * `df.write.format("mongodb").option("collection", …)` with
  * `operationType=insert` for [[writeTable]] and
  * `operationType=replace` + `idFieldList=<keyCol>` for
  * [[upsertByKey]]; everything upstream of these two functions is
  * unchanged. The connector can't resolve in this zero-egress
  * environment, so the binding stays a documented one-line seam
  * rather than a dependency; semantics (idempotent replace-by-key,
  * distributed per-partition writes) are what these parquet writers
  * already implement and test.
  */
object Sinks {

  /** S12: plain table write (Parquet), full overwrite. */
  def writeTable(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S13: upsert-by-key as replace-partition (`trees/speciesTree.js:
    * 230-252` `update({_id},doc,{upsert:true})`): the frame is
    * partitioned by the key's bucket and ONLY the buckets present in
    * the incoming batch are replaced (dynamic partition overwrite) —
    * idempotent, re-runnable, and at 100 TB it touches only the
    * affected partitions instead of rewriting the table.
    *
    * Rows are clustered by bucket before the write, into
    * min(nBuckets, shuffle partitions) tasks, so each bucket is written
    * by exactly one task: at most `nBuckets` files per write at any
    * scale, instead of one per (input partition, bucket). The explicit
    * count keeps AQE from coalescing a small batch into ONE task that
    * writes every bucket directory in turn.
    */
  def upsertByKey(df: DataFrame, path: String, keyCol: String, nBuckets: Int = 64): Unit = {
    val tasks = math.min(nBuckets, df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    df.withColumn("__bucket", pmod(hash(col(keyCol)), lit(nBuckets)))
      .repartition(tasks, col("__bucket"))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket")
      .parquet(path)
  }

  /** S14: JSONL sink (`console.log(JSON.stringify(doc))` ->
    * `df.write.json`), null fields dropped like the reference's
    * pre-insert cleanup.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("ignoreNullFields", "true").json(path)

  /** S15: TSV report sink (`prep_urgi_tsv.js:28-76`). */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("sep", "\t").option("header", "true").csv(path)

  /** The MongoDB connector seam AS DATA (see the class doc): the exact
    * options a deployment passes to `df.write.format("mongodb")` to
    * land [[writeTable]] (reference `collection.insert`,
    * `search/decorate.js:145-165`) or [[upsertByKey]] (reference
    * `update({_id}, doc, {upsert: true})`,
    * `trees/speciesTree.js:230-252`) in a live MongoDB via the public
    * `org.mongodb.spark:mongo-spark-connector`. The connector can't
    * resolve offline, so the binding is this pure map + the format
    * name in [[MongoFormat]] — contract-tested in SinksSpec without a
    * live server; swapping a parquet writer for
    * `df.write.format(MongoFormat).options(mongoWriterOptions(...))`
    * is the whole deployment change.
    */
  def mongoWriterOptions(
      connectionUri: String,
      database: String,
      collection: String,
      upsertKey: Option[String] = None): Map[String, String] =
    Map(
      "connection.uri" -> connectionUri,
      "database" -> database,
      "collection" -> collection,
      // insert for the plain table write; replace-by-key (idempotent,
      // the reference's upsert:true semantics) when a key is named
      "operationType" -> upsertKey.map(_ => "replace").getOrElse("insert")
    ) ++ upsertKey.map("idFieldList" -> _)

  /** The connector's DataSource V2 short name. */
  val MongoFormat: String = "mongodb"

  /** Error side-channel (S12's `{err,status,_id}` lines,
    * `search/decorate.js:37-46`): rows failing `predicate` go to
    * `errPath` as JSONL; the clean rows are returned for the main sink.
    */
  def withRejects(df: DataFrame, predicate: org.apache.spark.sql.Column, errPath: String): DataFrame = {
    df.filter(!predicate).write.mode(SaveMode.Overwrite)
      .option("ignoreNullFields", "true").json(errPath)
    df.filter(predicate)
  }
}
