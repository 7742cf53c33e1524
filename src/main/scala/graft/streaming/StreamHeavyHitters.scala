package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{Shingling, TextAnalytics}

/** STREAMING exact heavy hitters — the incremental form of
  * [[graft.ops.HeavyHitters]] (q92), built the way q98 completed
  * q31: the same semantics run through Structured Streaming state
  * and, on bounded input, must equal the batch answer verbatim (ONE
  * oracle gates both forms).
  *
  * Shape: terms are SPRAYED by term-hash into `groups` state keys, so
  * a term's full mass lands in exactly one group; each group keeps
  * one Misra-Gries summary (k = denom+1 counters, the identical
  * decrement-all-on-overflow update as the batch
  * [[graft.ops.HeavyHitters.MisraGriesAgg]]) in
  * `flatMapGroupsWithState` — state is BOUNDED at groups × (k+1)
  * entries no matter how much stream passes through, the property
  * that lets this run forever. The per-group bound is the batch
  * bound, only tighter: a term with global count ≥ ceil(N/denom) has
  * all its occurrences in its group (N_g ≤ N), so absence from that
  * group's summary would need count ≤ N_g/(k+1) < ceil(N/denom) —
  * candidates stay COMPLETE under any batch split.
  *
  * Each micro-batch the group emits its updated (n, candidates)
  * snapshot; the monotone row count n makes "latest emission per
  * group" well-defined downstream without a second stateful stage.
  * The exact verify (candidate recount + ≥-threshold filter) runs as
  * one bounded batch pass after the stream drains — in production,
  * against the accumulated corpus store; the sketch's job in both
  * forms is to make that pass candidate-sized, never vocabulary-
  * sized.
  */
object StreamHeavyHitters {

  /** Per-group MG state: row total + the ≤ k surviving counters. */
  case class MgState(n: Long, terms: Seq[String], counts: Seq[Long])

  /** Per-batch emission: group, rows-so-far, candidate terms. */
  case class MgEmit(g: Int, n: Long, cand: Seq[String])

  /** The classic MG update on a mutable map — semantics identical to
    * the batch [[graft.ops.HeavyHitters.MisraGriesAgg.update]].
    */
  private def mgAdd(
      buf: scala.collection.mutable.HashMap[String, Long],
      k: Int, term: String): Unit = {
    buf.get(term) match {
      case Some(c) => buf.update(term, c + 1L)
      case None if buf.size < k => buf.update(term, 1L)
      case None =>
        val dead = scala.collection.mutable.ArrayBuffer.empty[String]
        buf.mapValuesInPlace((_, c) => c - 1L)
        buf.foreach { case (t, c) => if (c == 0L) dead += t }
        dead.foreach(buf.remove)
    }
  }

  /** Streaming MG summaries over sprayed (group, term) rows: one
    * bounded summary per group in state, the updated snapshot emitted
    * each micro-batch the group sees rows.
    */
  def mgSummaryStream(
      terms: Dataset[(Int, String)], k: Int): Dataset[MgEmit] = {
    import terms.sparkSession.implicits._
    def update(
        g: Int,
        rows: Iterator[(Int, String)],
        state: GroupState[MgState]): Iterator[MgEmit] = {
      val buf = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      state.getOption.foreach { s =>
        s.terms.iterator.zip(s.counts.iterator).foreach { case (t, c) =>
          buf.update(t, c)
        }
        n = s.n
      }
      rows.foreach { case (_, term) => n += 1L; mgAdd(buf, k, term) }
      val snap = buf.toSeq.sortBy(_._1)
      state.update(MgState(n, snap.map(_._1), snap.map(_._2)))
      Iterator.single(MgEmit(g, n, snap.map(_._1)))
    }
    terms
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  /** The q104 gate: document BIGRAM heavy hitters (q92's exact
    * definition) with candidates accumulated through the streaming MG
    * state over hash-sliced document micro-batches, then the exact
    * verify as one bounded batch pass. Output `(term, cnt)` must
    * equal batch q92 — same oracle.
    */
  def heavyHittersAvailableNow(
      s: SparkSession, d: String,
      denom: Long, groups: Int = 8, slices: Int = 4): DataFrame = {
    require(denom >= 1 && denom < Int.MaxValue.toLong,
      s"denom out of range: $denom")
    require(groups >= 1, s"groups must be >= 1, got $groups")
    import s.implicits._
    val k = denom.toInt + 1

    val docs = graft.core.Tables.documents(s, d)
    val dir = StreamGate.stageSlices(
      docs.select("doc_id", "text"), col("doc_id"), slices, "hhdocs")
    val schema = graft.core.Tables.parquetSchema(s, dir.toString)
    val stream = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val sprayed = stream
      .select(explode(Shingling.orderedShingles(
        TextAnalytics.tokens(col("text")), 2)).as("term"))
      .select(pmod(xxhash64(col("term")), lit(groups.toLong)).cast("int")
        .as("g"), col("term"))
      .as[(Int, String)]
    val emissions = StreamGate.runAvailableNow(
      mgSummaryStream(sprayed, k).toDF())

    // latest snapshot per group: n is strictly monotone within a group
    val latest = emissions
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("n").desc)))
      .where(col("__r") === 1)
    val nTotal = latest.agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    val threshold = if (nTotal == 0L) 1L else (nTotal + denom - 1L) / denom
    val candidates = latest
      .select(explode(col("cand")).as("term")).distinct()

    // exact verify: bounded batch recount of candidate terms only
    docs
      .select(explode(Shingling.orderedShingles(
        TextAnalytics.tokens(col("text")), 2)).as("term"))
      .join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
  }
}
