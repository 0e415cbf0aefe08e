package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Incremental top-k per key over an unbounded stream — the streaming
  * counterpart of the batch `row_number() <= k` window (w24): same
  * contract (k best rows per key under a total order: score desc, then
  * item id asc as the tie-break), maintained as bounded LIST state so the
  * leaderboard is always current without ever rescanning history.
  *
  * Each batch folds new (item, score) observations into the key's
  * retained set and re-emits the refreshed top-k. An item re-observed
  * with a new score REPLACES its old entry (last-write-wins) — the
  * leaderboard semantic, where a score is a current attribute of the
  * item, not an event to double-count.
  *
  * Scale shape: state per key is exactly ≤ k (item, score) pairs in the
  * RocksDB list column family; per batch work is O(new rows + k) per
  * touched key, O(keys · k) total state regardless of stream length.
  */
object StreamingTopK {

  case class Obs(key: Long, item: Long, score: Long)
  case class Ranked(key: Long, rank: Int, item: Long, score: Long)

  class Processor(k: Int) extends StatefulProcessor[Long, Obs, Ranked] {
    @transient private var kept
        : org.apache.spark.sql.streaming.ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      kept = getHandle.getListState[(Long, Long)]("topk",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Obs],
                                 timers: TimerValues): Iterator[Ranked] = {
      // last-write-wins within the batch too: fold in input order
      val byItem = scala.collection.mutable.LinkedHashMap
        .empty[Long, Long] ++= kept.get().map { case (i, s) => i -> s }
      rows.foreach(o => byItem(o.item) = o.score)
      val top = byItem.toSeq
        .sortBy { case (item, score) => (-score, item) }
        .take(k)
      kept.put(top.map { case (i, s) => (i, s) }.toArray)
      top.iterator.zipWithIndex.map { case ((item, score), idx) =>
        Ranked(key, idx + 1, item, score)
      }
    }
  }

  /** Wire over a streaming (key, item, score) frame; emits the full
    * refreshed top-k of every touched key each batch. Requires the
    * RocksDB provider ([[RunningSpend.requiredConfs]]).
    */
  def leaderboard(obs: Dataset[org.apache.spark.sql.Row],
                  k: Int): Dataset[Ranked] = {
    val spark = obs.sparkSession
    import spark.implicits._
    obs
      .select(col("key").cast("long").as("key"),
        col("item").cast("long").as("item"),
        col("score").cast("long").as("score"))
      .as[Obs]
      .groupByKey(_.key)
      .transformWithState(new Processor(k), TimeMode.None(),
        OutputMode.Append(), Encoders.product[Ranked])
  }
}
