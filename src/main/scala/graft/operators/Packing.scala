package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Token-stream packing (concatenate-and-chunk): the standard prep
  * step that turns variable-length documents into fixed-capacity
  * context windows by concatenating each shard's documents into one
  * token stream and slicing it every `capacity` tokens. Rather than
  * materializing the concatenation, the operator computes each
  * document's *position* in its shard's stream with a running-sum
  * window, from which the context-window (bin) assignment is pure
  * integer arithmetic:
  *
  *   stream_pos   tokens before this doc in the shard stream
  *   bin          stream_pos div capacity — the window the doc starts in
  *   bin_offset   stream_pos mod capacity — where in that window
  *   bins_spanned how many windows the doc crosses
  *
  * 100 TB: one shuffle on the shard key for the sort-based window;
  * the within-shard prefix sum is the inherently sequential part of
  * packing, so shards must be sized to a worker (hash-bucket the
  * corpus into O(cores) shards — here the shard key is a caller
  * choice). All outputs are exact integers: bit-deterministic, and
  * the oracle replays the same window SQL.
  */
object Packing {

  /** One row per document with its packed position. Ordering within a
    * shard is by `idCol` — deterministic and incremental (appending
    * new docs with higher ids never reassigns old positions).
    */
  def packTokens(docs: DataFrame, textCol: String, idCol: String,
                 shardCol: String, capacity: Int = 2048): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tok",
        size(split(lower(col(textCol)), "\\s+")).cast("long"))
      .withColumn("stream_pos", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", expr(s"stream_pos div $capacity"))
      .withColumn("bin_offset", col("stream_pos") % capacity)
      .withColumn("bins_spanned",
        expr(s"(stream_pos + n_tok - 1) div $capacity") - col("bin") + 1)
  }

  /** Document-preserving bin packing: next-fit decreasing per hash
    * shard (the sequence-packing prep of Krell et al. 2021,
    * arXiv:2107.02027 — fewer pad tokens WITHOUT splitting documents,
    * the complement of [[packTokens]], which splits). Docs hash into
    * `nShards` shards; within a shard they are ordered (token count
    * desc, id) and greedily packed: a doc opens a new bin iff it does
    * not fit the current one. A doc longer than `capacity` sits alone
    * in an oversized bin (next-fit closes it immediately). NF is
    * 2-competitive — never more than 2× the optimal bin count.
    *
    * The within-shard greedy is inherently sequential (each decision
    * depends on the running fill), so it runs as a typed
    * `mapPartitions` scan — the sanctioned imperative escape hatch
    * (cf. Multimodal) — after one shuffle on the shard key and a
    * LOCAL sort. State per partition is three scalars; shards are a
    * caller-sized hash bucket, so a partition never exceeds a worker.
    * Deterministic end-to-end: murmur3 shard, total order, greedy —
    * the DuckDB oracle replays it as a recursive CTE.
    */
  def packBinsNfd(docs: DataFrame, textCol: String, idCol: String,
                  capacity: Int = 256, nShards: Int = 8): DataFrame = {
    require(capacity > 0 && nShards > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).as("doc_id"),
        size(split(lower(col(textCol)), "\\s+")).cast("long").as("len"))
      .withColumn("shard_id",
        (GraftFunctions.unsignedHash(col("doc_id")) % nShards).cast("int"))
    base.repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("len").desc, col("doc_id"))
      .select(col("doc_id"), col("len"), col("shard_id"))
      .as[(Long, Long, Int)]
      .mapPartitions { it =>
        var curShard = Int.MinValue
        var bin = 0L; var fill = 0L
        it.map { case (id, len, sh) =>
          if (sh != curShard) { curShard = sh; bin = 0L; fill = 0L }
          if (fill > 0L && fill + len > capacity) { bin += 1L; fill = len }
          else fill += len
          (id, sh, len, bin, fill)
        }
      }
      .toDF("doc_id", "shard_id", "len", "bin_id", "fill_after")
  }
}
