package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{StagingScope, Tables}
import graft.functions.{TextAnalytics, Varint}
import graft.ops.{Bm25, InvertedIndex}
import graft.sinks.Sinks

final case class Args(
    workload: String,
    data: String,
    out: String,
    seconds: Double,
    trace: Boolean,
    seed: Long,
    cores: Int,
    minWarm: Int)

object Disk {
  /** (bytes, files) of the data files under `dir`, hidden files excluded. */
  def sizeOf(dir: String): (Long, Int) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0)
    else scala.util.Using.resource(Files.walk(root)) { w =>
      val fs = w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_")).toList
      (fs.map(Files.size(_)).sum, fs.size)
    }
  }
}

/** gene_etl and neardup_shuffle: passes over a fixed set of catalog
  * ops, each materialized through a noop or a real sink.
  */
object CatalogWorkload {
  final case class CatOp(name: String, sink: String, key: String = "")

  val geneEtl: Seq[CatOp] = Seq(
    "q11_interval_join_keyed", "q12_interval_join_global", "q13_closure",
    "q14_subtree_rollup", "q29_tree_stats", "q30_interval_merge",
    "q39_asof_join", "q40_interval_join_custom_plan", "q44_genetree_rep",
    "q45_domain_clusters", "q46_domain_roots", "q47_split_rescue",
    "q48_foster_graft", "q49_asof_custom_plan").map(CatOp(_, "noop")) ++ Seq(
    CatOp("q34_doc_assembly", "upsert", "l_orderkey"),
    CatOp("q54_genes_pipeline", "jsonl"))

  val nearDup: Seq[CatOp] = Seq(
    CatOp("q57_apss_cosine", "noop"), CatOp("q63_apss_tfidf", "noop"),
    CatOp("q22_ngram_jaccard", "noop"), CatOp("q53_dedup_components", "table"),
    CatOp("q72_decontam_pipeline", "table"), CatOp("q95_neardup_pagerank", "noop"))

  /** Ops whose warm passes are known to reuse a session cache. */
  val sessionCaches: Map[String, String] = Map(
    "q13_closure" -> "Queries.closureCache", "q14_subtree_rollup" -> "Queries.closureCache")

  def run(spark: SparkSession, rec: Recorder, a: Args, ops: Seq[CatOp]): Map[String, Any] = {
    def sinkPath(op: CatOp) = s"${a.out}/sink/${op.name}"

    def dumpPath(op: CatOp) = s"${a.out}/check/${op.name}"

    def pass(p: Int): Unit = {
      val order = new scala.util.Random(a.seed * 7919L + p).shuffle(ops)
      order.foreach { op =>
        val r = rec.op(op.name, op.sink, p) { o =>
          val df = o.phase("build")(SparkEntry.queries(op.name)(spark, a.data))
          op.sink match {
            case "noop" =>
              o.phase("action")(df.write.format("noop").mode("overwrite").save())
            case "jsonl" => o.phase("sink")(Sinks.writeJsonl(df, sinkPath(op)))
            case "upsert" => o.phase("sink")(Sinks.upsertByKey(df, sinkPath(op), op.key))
            case "table" => o.phase("sink")(Sinks.writeTable(df, sinkPath(op)))
          }
          o.phase("drain")(StagingScope.drain())
        }
        if (r("traced") == true && op.sink != "noop") {
          val (bytes, files) = Disk.sizeOf(sinkPath(op))
          r ++= Map("sink_bytes" -> bytes, "sink_files" -> files)
        }
      }
    }

    rec.tracing = a.trace
    pass(0)
    var warm = 0
    while (warm < a.minWarm || rec.nowMs - rec.firstOpMs < a.seconds * 1000) {
      // traced runs alternate untraced and traced warm passes, so the
      // tracing overhead is measured in the same run
      rec.tracing = a.trace && warm % 2 == 1
      warm += 1
      pass(warm)
    }
    rec.tracing = false
    val peak = Main.peakRssMb()

    // Output check inputs, after the timed passes: every op's output
    // dumped whole (compared with the DuckDB oracle after the JVM
    // exits) and the sink outputs read back.
    val checks = ops.map { op =>
      val entry = mutable.Map[String, Any]("name" -> op.name, "dump" -> dumpPath(op),
        "oracle" -> SparkEntry.oracleSql.get(op.name))
      try {
        SparkEntry.queries(op.name)(spark, a.data).write.mode("overwrite").parquet(dumpPath(op))
        StagingScope.drain()
        if (op.sink != "noop") {
          val back = op.sink match {
            case "jsonl" => spark.read.json(sinkPath(op))
            case _ => spark.read.parquet(sinkPath(op))
          }
          entry("sink_rows") = back.count()
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check of ${op.name} FAILED: $e")
          entry("error") = e.toString
      }
      entry.toMap
    }
    Map("peak_rss_mb" -> peak, "checks" -> checks,
      "session_caches" -> sessionCaches.filter(kv => ops.exists(_.name == kv._1)))
  }
}

/** index_serve: passes of a serving session. Each pass builds the
  * posting artifact and BM25 tables over a seeded two-thirds of the
  * wide corpus, then one client serves a block of requests in a closed
  * loop: reads (BM25 top-10, phrase, proximity) and one append+refresh.
  */
object IndexServe {
  val ShardSpan = 100L
  /** Requests per pass; the write is the 10th. */
  val BlockSize = 20
  val AppendBatches = 16

  sealed trait Req { def kind: String }
  final case class Bm25Req(id: Long, terms: Seq[String]) extends Req { val kind = "bm25" }
  final case class PhraseReq(phrase: Seq[String]) extends Req { val kind = "phrase" }
  final case class ProxReq(w1: String, w2: String) extends Req { val kind = "proximity" }
  case object WriteReq extends Req { val kind = "write" }

  /** A served index: the stored artifact, its pinned BM25 tables and
    * the held-out documents appended to it so far.
    */
  final class State(val artifact: DataFrame, val bm25: Bm25.Index, val added: Seq[Long])

  private def tfOf(artifact: DataFrame): DataFrame =
    artifact.select(col("term"),
        explode(Varint.postingsDecode(col("bin"), col("shard") * lit(ShardSpan))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("term"),
        size(col("e.ps")).cast("long").as("tf"))

  /** BM25 tables over a stored artifact, pinned for serving (their
    * staged inputs are released at the next drain).
    */
  private def pinnedBm25(artifact: DataFrame): Bm25.Index = {
    val bi = Bm25.buildIndexFromTf(tfOf(artifact))
    Bm25.Index(bi.tfDl.localCheckpoint(eager = true), bi.idf.localCheckpoint(eager = true))
  }

  private def release(bi: Bm25.Index): Unit = {
    org.apache.spark.sql.classic.GraftColumnBridge.unpersistLocalCheckpoint(bi.tfDl)
    org.apache.spark.sql.classic.GraftColumnBridge.unpersistLocalCheckpoint(bi.idf)
  }

  def answer(st: State, r: Req, spark: SparkSession): DataFrame = {
    import spark.implicits._
    r match {
      case Bm25Req(id, terms) =>
        Bm25.scoreTopK(st.bm25, Seq((id, terms)).toDF("query_id", "terms"),
          "query_id", "terms", k = 10)
      case PhraseReq(p) => InvertedIndex.phraseMatchesFromPostings(st.artifact, ShardSpan, p)
      case ProxReq(w1, w2) =>
        InvertedIndex.proximityMatchesFromPostings(st.artifact, ShardSpan, w1, w2, window = 4L)
      case WriteReq => sys.error("not a read")
    }
  }

  /** The same request answered by scanning document text (q103, q110,
    * q115) — what the artifact path must reproduce.
    */
  def textAnswer(docs: DataFrame, r: Req, spark: SparkSession): DataFrame = {
    import spark.implicits._
    r match {
      case Bm25Req(id, terms) =>
        Bm25.bm25TopK(docs, Seq((id, terms)).toDF("query_id", "terms"),
          "text", "doc_id", "query_id", "terms", k = 10)
      case PhraseReq(p) => InvertedIndex.phraseMatches(docs, "text", "doc_id", p)
      case ProxReq(w1, w2) =>
        InvertedIndex.proximityMatches(docs, "text", "doc_id", w1, w2, window = 4L)
      case WriteReq => sys.error("not a read")
    }
  }

  private def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  def run(spark: SparkSession, rec: Recorder, a: Args): Map[String, Any] = {
    val wide = Tables.documentsWide(spark, a.data)
    val heldOut = pmod(xxhash64(col("doc_id"), lit(a.seed)), lit(3L)) === 0
    val baseDocs = wide.where(!heldOut)
    def docsWith(added: Seq[Long]): DataFrame =
      if (added.isEmpty) baseDocs else wide.where(!heldOut || col("doc_id").isin(added: _*))
    var nextPath = 0
    def artifactPath(): String = { nextPath += 1; s"${a.out}/sink/artifact_v$nextPath" }

    // every pass starts from a fresh build over the base documents
    var state: State = null
    def buildIndex(p: Int): Unit = {
      val path = artifactPath()
      var built: State = null
      val r = rec.op("index_build", "build", p) { o =>
        val art = o.phase("build")(
          InvertedIndex.postingShardsBinary(baseDocs, "text", "doc_id", ShardSpan))
        o.phase("sink")(Sinks.writeTable(art, path))
        val stored = o.phase("reread")(spark.read.parquet(path))
        val bm = o.phase("bm25")(pinnedBm25(stored))
        o.phase("drain")(StagingScope.drain())
        built = new State(stored, bm, Seq.empty)
      }
      if (r("traced") == true) {
        val (bytes, files) = Disk.sizeOf(path)
        r ++= Map("sink_bytes" -> bytes, "sink_files" -> files)
      }
      if (built == null) sys.error("index build failed")
      if (state != null) release(state.bm25)
      state = built
    }

    rec.tracing = a.trace
    buildIndex(0)
    rec.tracing = false

    // request stream (harness work, untimed, after the cold build so
    // the build stays cold): seeded docs to draw terms from, seeded
    // held-out batches to append
    val rnd = new scala.util.Random(a.seed)
    val held = rnd.shuffle(wide.where(heldOut).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted)
    val batchSize = math.max(1, held.size / AppendBatches)
    val batches = held.grouped(batchSize).toVector
    val baseIds = baseDocs.select("doc_id").collect().map(_.getLong(0)).sorted
    val sample = rnd.shuffle(baseIds.toSeq).take(200).toSet
    val tokens = baseDocs.where(col("doc_id").isin(sample.toSeq: _*))
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).sortBy(_._1).map(_._2)
      .filter(_.size >= 5)
    def pick(): Seq[String] = tokens(rnd.nextInt(tokens.size))
    def slice(t: Seq[String], n: Int): Seq[String] = {
      val s = rnd.nextInt(t.size - n + 1)
      t.slice(s, s + n)
    }
    def read(i: Long, kind: Int): Req = kind match {
      case 0 => Bm25Req(i, slice(pick(), 1 + rnd.nextInt(5)))
      case 1 => PhraseReq(slice(pick(), 2 + rnd.nextInt(2)))
      case _ =>
        var req: ProxReq = null
        while (req == null) {
          val t = pick()
          val i0 = rnd.nextInt(t.size - 1)
          val j0 = math.min(t.size - 1, i0 + 1 + rnd.nextInt(4))
          if (t(i0) != t(j0)) req = ProxReq(t(i0), t(j0))
        }
        req
    }
    // blocks are drawn in pass order, so block p depends on the seed
    // only; every block holds the same mix of reads (7 BM25, 6 phrase,
    // 6 proximity) in a seeded order, so a pass's latencies do not hang
    // on how a draw split the kinds
    def block(p: Int): Vector[Req] = {
      val kinds = rnd.shuffle((0 until BlockSize - 1).map(_ % 3)).iterator
      (0 until BlockSize).map(k =>
        if (k == BlockSize / 2 - 1) WriteReq else read(p.toLong * BlockSize + k, kinds.next())).toVector
    }

    // one client, closed loop; every 10th request's answer is kept
    // for the output check
    val samples = mutable.ArrayBuffer.empty[(Req, Seq[Long], Seq[String])]
    val sampleEvery = 10
    var appends = 0
    def serve(p: Int): Unit = block(p).zipWithIndex.foreach { case (req, k) =>
      rec.tracing = a.trace && k % 2 == 0
      req match {
        case WriteReq =>
          val batch = batches(p % batches.size)
          val path = artifactPath()
          rec.op("append_refresh", "write", p) { o =>
            val newDocs = wide.where(col("doc_id").isin(batch: _*))
            val appended = o.phase("build")(
              InvertedIndex.appendToShardsBinary(state.artifact, newDocs, "text", "doc_id", ShardSpan))
            o.phase("sink")(Sinks.writeTable(appended, path))
            val stored = o.phase("reread")(spark.read.parquet(path))
            val bm = o.phase("refresh")(pinnedBm25(stored))
            o.phase("drain")(StagingScope.drain())
            release(state.bm25)
            state = new State(stored, bm, state.added ++ batch)
            appends += 1
          }
        case r =>
          var rows: Array[Row] = null
          rec.op(r.kind, "read", p) { o =>
            val df = o.phase("build")(answer(state, r, spark))
            rows = o.phase("action")(df.collect())
            o.info = Map("rows" -> rows.length)
            o.phase("drain")(StagingScope.drain())
          }
          if (rows != null && k % sampleEvery == 0) samples += ((r, state.added, canon(rows.toSeq)))
      }
    }

    serve(0)
    var warm = 0
    while (warm < a.minWarm || rec.nowMs - rec.firstOpMs < a.seconds * 1000) {
      warm += 1
      rec.tracing = a.trace && warm % 2 == 0
      buildIndex(warm)
      serve(warm)
    }
    rec.tracing = false
    val peak = Main.peakRssMb()
    val (artifactBytes, _) = Disk.sizeOf(s"${a.out}/sink/artifact_v$nextPath")

    // Output check, untimed: sampled served answers against the text
    // scan over the same documents; the appended artifact against a
    // one-shot build over the same documents (q129's equivalence).
    val mismatches = samples.filter { case (r, added, served) =>
      val expect = canon(textAnswer(docsWith(added), r, spark).collect().toSeq)
      StagingScope.drain()
      expect != served
    }.map { case (r, added, _) => s"${r.kind} $r with ${added.size} appended docs" }
    val oneShot = InvertedIndex.compressedView(
      InvertedIndex.postingShardsBinary(docsWith(state.added), "text", "doc_id", ShardSpan))
    val served = InvertedIndex.compressedView(state.artifact)
    val artifactEqual = served.exceptAll(oneShot).isEmpty && oneShot.exceptAll(served).isEmpty
    StagingScope.drain()
    Map("peak_rss_mb" -> peak, "artifact_bytes" -> artifactBytes,
      "index_check" -> Map(
        "sampled" -> samples.size, "mismatches" -> mismatches.toSeq,
        "appends" -> appends, "final_appended_docs" -> state.added.size,
        "artifact_equal" -> artifactEqual,
        "ok" -> (mismatches.isEmpty && artifactEqual && samples.nonEmpty &&
          state.added.nonEmpty)))
  }
}
