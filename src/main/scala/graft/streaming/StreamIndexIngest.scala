package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.InvertedIndex

/** STREAMING index ingest — documents ARRIVE as micro-batches and
  * FOLD into the stored posting artifact ([[graft.ops.InvertedIndex
  * .appendToShardsBinary]]): each batch tokenizes once, decode-merges
  * only the (term, shard) groups it touches, and the artifact (never
  * the accumulated corpus) is the ONLY state carried between batches
  * — the ingest half of the serving story whose query half is
  * [[StreamBm25]]. Batches are sequential and each folds into the
  * previous state, so this is a `foreachBatch` state-holder (the
  * [[StreamBm25.Results]] lifecycle: eager checkpoint the new state,
  * release the old). On bounded input the final artifact must be
  * byte-identical to the from-scratch batch build — q109's oracle
  * gates the streamed form verbatim (q130), the equivalence proof
  * that batch-by-batch append ≡ one-shot build whatever the slicing.
  */
object StreamIndexIngest {

  /** The artifact fold state: each batch's append is eagerly
    * checkpointed and the previous state released (the
    * [[StreamBm25.Results]] lifecycle), so the carried state is always
    * one materialized index, never a growing lineage.
    */
  private final class ArtifactState(initial: DataFrame, shardSpan: Long) {
    private[this] var index: DataFrame = initial
    def fold(batch: DataFrame): Unit = synchronized {
      val next = InvertedIndex
        .appendToShardsBinary(index, batch, "text", "doc_id", shardSpan)
        .localCheckpoint()
      // release through the bridge: Dataset.unpersist only touches the
      // CacheManager and silently leaves a localCheckpoint's RDD blocks
      // pinned until driver GC
      org.apache.spark.sql.classic.GraftColumnBridge
        .unpersistLocalCheckpoint(index)
      index = next
    }
    def snapshot: DataFrame = synchronized(index)
  }

  /** The q130 gate: the documents corpus staged as hash-sliced files,
    * streamed with one file per trigger, folded into an
    * initially-empty artifact; returns the flat digest view of the
    * final artifact.
    */
  def ingestAvailableNow(
      s: SparkSession, d: String,
      shardSpan: Long = 100L, slices: Int = 3): DataFrame = {
    val docs = graft.core.Tables.documents(s, d)
    val dir = StreamGate.stageSlices(docs, col("doc_id"), slices, "ingest")

    val schema = graft.core.Tables.parquetSchema(s, dir.toString)
    val stream = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)

    // the empty artifact, with the canonical schema
    val state = new ArtifactState(
      InvertedIndex
        .postingShardsBinary(docs.limit(0), "text", "doc_id", shardSpan)
        .localCheckpoint(),
      shardSpan)

    val ckpt = Files.createTempDirectory("graft_ingest_ckpt_").toString
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) state.fold(batch)
        ()
      }
      .start()
    q.awaitTermination()
    InvertedIndex.compressedView(
      graft.core.StagingScope.register(state.snapshot))
  }
}
