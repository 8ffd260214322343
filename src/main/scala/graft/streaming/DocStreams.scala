package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.functions.GraftFunctions

/** Document-ingest streaming: near-dup filtering of a document stream
  * against accumulating state — the "dedup the crawl as it arrives"
  * half of the batch dedup family (x19's SimHash banding made
  * streaming). The state split follows [[EventStreams.windowQuantiles]]:
  * the part that must see unbounded input (per-band fingerprint state)
  * runs IN the stream as ONE stateful operator; the cross-band combine
  * is a bounded batch pass over the sink — the hand-off point Spark's
  * single-stateful-operator-per-Update-query rule forces, and the one
  * a production ingest uses anyway (flags land in the bronze table,
  * the combine is the silver view).
  */
object DocStreams {
  /** Per-band dup flags via keyed state: each document's 64-bit SimHash
    * splits into four 16-bit band keys (exactly x19's banding — near-dup
    * fingerprints, Hamming ≤ 3, agree on ≥ 1 whole band by pigeonhole);
    * per (band, key) group the state carries every fingerprint seen, and
    * an arriving doc is flagged against the earliest prior doc within
    * `maxHamming`. Docs enter state whether or not they are dups (a dup
    * of a dup still flags — standard streaming-dedup chaining). In batch
    * each group processes once with rows sorted by doc_id, so "earlier"
    * = smaller id; in a stream it is arrival order, equal whenever the
    * stream arrives in id order (DocStreamsSpec certifies).
    *
    * 100 TB: state is per-(band, bucket) fingerprint lists — 65536·4
    * buckets partition horizontally, each holding only the docs that
    * hashed there (the banding's candidate-volume bound); no all-pairs
    * anything. Output is one row per (doc, band).
    */
  def nearDupBandFlags(docs: DataFrame, textCol: String, idCol: String,
                       maxHamming: Int = 3): Dataset[BandFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    val fps = docs.select(col(idCol).cast("long").as("doc_id"),
      GraftFunctions.simhash64(split(lower(col(textCol)), "\\s+")).as("simhash"))
    val banded = fps.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("simhash"), col("band").cast("int").as("band"),
        expr("(simhash >>> (band * 16)) & 65535").as("bkey"))
      .as[(Long, Long, Int, Long)]
    banded
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState[BandBucketState, BandFlag](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[(Long, Long, Int, Long)],
         state: org.apache.spark.sql.streaming.GroupState[BandBucketState]) =>
          val sorted = rows.toSeq.sortBy(_._1)
          var seen = state.getOption.getOrElse(BandBucketState(Vector.empty)).fps
          val out = scala.collection.mutable.ArrayBuffer.empty[BandFlag]
          sorted.foreach { case (id, fp, band, _) =>
            val hits = seen.iterator
              .filter { case (sid, sfp) =>
                sid < id && java.lang.Long.bitCount(sfp ^ fp) <= maxHamming }
              .map(_._1)
            out += BandFlag(id, band,
              if (hits.isEmpty) None else Some(hits.min))
            seen = seen :+ ((id, fp))
          }
          state.update(BandBucketState(seen))
          out.iterator
      }
  }

  /** Streaming Bloom first-seen filter — x31's exact-dedup prefilter as
    * keyed stream state (the "have I crawled this before?" front gate a
    * live ingest answers BEFORE paying the exact verify join). Each
    * document probes the k=4 sha256-slice bit positions of
    * [[graft.operators.Bloom.digestPositions]]; the filter's bit array
    * partitions horizontally across `mBits` position keys, and the
    * state per key is ONE long — the earliest doc that set that bit —
    * so total state is `mBits` longs regardless of corpus size. A
    * probe hits when its bit was set by a STRICTLY earlier doc; the
    * per-doc AND across probes (`bloom_maybe`) happens OUTSIDE the
    * stream — the st12/windowQuantiles combine hand-off.
    *
    * No false negatives by construction: an exact earlier dup set all
    * k of this doc's positions. In batch each position group processes
    * once with ids sorted ascending, so "earlier" = smaller id; in a
    * stream it is arrival order, equal whenever docs arrive in id
    * order (the DocStreamsSpec certification discipline).
    */
  def bloomFirstSeenProbes(docs: DataFrame, textCol: String, idCol: String,
                           k: Int = 4,
                           mBits: Int = 1 << 14): Dataset[BloomProbe] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pos = graft.operators.Bloom.digestPositions(
      sha2(col(textCol), 256), k, mBits)
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(array(pos: _*)).as("pos"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[PosState, BloomProbe](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (pos: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[PosState]) =>
          val sorted = rows.map(_._1).toSeq.distinct.sorted
          var first = state.getOption.map(_.firstId)
          val out = sorted.map { id =>
            val hit = first.exists(_ < id)
            if (!first.exists(_ <= id)) first = Some(id)
            BloomProbe(id, hit)
          }
          state.update(PosState(first.get))
          out.iterator
      }
  }

  /** Per-doc combine of [[bloomFirstSeenProbes]] + the exact verify:
    * `bloom_maybe` = every probe hit (1/0), `is_dup` = an earlier doc
    * with the same digest exists. `bloom_maybe ≥ is_dup` always (no
    * false negatives); the gap rows are the Bloom FP tail the exact
    * join caught. Batch composition over the probe sink.
    */
  def bloomFirstSeenFlags(docs: DataFrame, textCol: String, idCol: String,
                          k: Int = 4, mBits: Int = 1 << 14): DataFrame = {
    val probes = bloomFirstSeenProbes(docs, textCol, idCol, k, mBits).toDF()
    val mb = probes.groupBy("doc_id")
      .agg(min(when(col("hit"), lit(1)).otherwise(lit(0))).as("bloom_maybe"))
    val d = docs.select(col(idCol).cast("long").as("doc_id"),
      sha2(col(textCol), 256).as("h"))
    val firstH = d.groupBy("h").agg(min("doc_id").as("first_h"))
    mb.join(d, "doc_id").join(firstH, "h")
      .select(col("doc_id"), col("bloom_maybe"),
        when(col("first_h") < col("doc_id"), lit(1)).otherwise(lit(0))
          .as("is_dup"))
  }

  /** Streaming CDC chunk-level first-seen — x100's incremental
    * dedup-store probe as LIVE ingest state: every chunk of every
    * arriving document probes a keyed store of "which doc first
    * contributed this chunk hash". A chunk is NEW iff no STRICTLY
    * earlier document carries its hash; per-doc byte-weighted reuse
    * then combines OUTSIDE the stream ([[cdcFirstSeenReport]] — the
    * st16 combine hand-off).
    *
    * State framing (deliberately different from st16's bounded Bloom):
    * the keyed state IS the dedup store's chunk index — one long per
    * DISTINCT chunk, which is exactly the store's post-dedup size, the
    * thing a chunk store persists anyway (not a leak; the Bloom
    * front-gate remains the bounded-memory prefilter for "have I seen
    * this" without a store). In batch each hash group processes once
    * with ids ascending, so "earlier" = smaller id; in a stream it is
    * arrival order, equal whenever docs arrive in id order (the
    * DocStreamsSpec certification discipline).
    *
    * 100 TB/streaming: chunking is the codegen'd scan-side pass
    * ([[graft.operators.Chunking.cdcChunks]]); the shuffle carries
    * (hash, doc, len) — never text; state partitions horizontally on
    * the hash key.
    */
  def cdcFirstSeenProbes(docs: DataFrame, textCol: String, idCol: String)
      : Dataset[ChunkProbe] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.Chunking.cdcChunks(docs, textCol, idCol)
      .select(col("doc_id").cast("long"), col("chunk_len").cast("int"),
        col("chunk_hash"))
      .as[(Long, Int, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[ChunkState, ChunkProbe](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[(Long, Int, String)],
         state: org.apache.spark.sql.streaming.GroupState[ChunkState]) =>
          val sorted = rows.toSeq.sortBy(r => r._1)
          var first = state.getOption.map(_.firstId)
          val out = sorted.map { case (id, len, _) =>
            val hit = first.exists(_ < id)
            if (!first.exists(_ <= id)) first = Some(id)
            ChunkProbe(id, len, hit)
          }
          state.update(ChunkState(first.get))
          out.iterator
      }
  }

  /** Per-doc combine of [[cdcFirstSeenProbes]] — x100's report shape
    * (chunks, new chunks, byte totals, 2^-20-grid reuse rate) with
    * history = every strictly-earlier document. Batch composition over
    * the probe sink.
    */
  def cdcFirstSeenReport(docs: DataFrame, textCol: String,
                         idCol: String): DataFrame = {
    val grid = 1048576L // 2^20
    cdcFirstSeenProbes(docs, textCol, idCol).toDF()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(!col("hit"), 1L).otherwise(0L)).as("n_new_chunks"),
        sum(col("chunk_len")).as("total_chars"),
        sum(when(!col("hit"), col("chunk_len")).otherwise(lit(0)))
          .cast("bigint").as("new_chars"))
      // empty doc → one zero-length chunk → total_chars = 0: define the
      // rate as 0 rather than NaN (matches Chunking.cdcIncremental and
      // the oracle's CASE guard)
      .withColumn("reuse_rate_q",
        when(col("total_chars") === 0, 0L).otherwise(
          floor((col("total_chars") - col("new_chars")).cast("double")
            / col("total_chars").cast("double") * grid + lit(0.5))
            .cast("long")))
      .select("doc_id", "n_chunks", "n_new_chunks", "total_chars",
        "new_chars", "reuse_rate_q")
  }

  /** Live per-source length quantiles via a MERGEABLE quantile-sketch
    * state — [[graft.operators.Sketches.quantileSketch]]'s bottom-k
    * hash-rank sample maintained as keyed stream state on Spark 4's
    * `transformWithState` (the st19–st23 modern-API discipline): per
    * source, the running row count plus the k sample rows whose
    * unsigned murmur3 `hash(doc_id)` ranks smallest under the total
    * order (h, doc_id, len), each carrying its length value. The
    * bottom-k sample is a SEMILATTICE — fold order cannot matter — so
    * stream state after any arrival order equals the batch sketch, and
    * the percentile readout (⌈n·pct/100⌉-th order statistic of the
    * sample, pure integer) replays bit-exactly in the x109-shaped
    * oracle. Exact below k rows per source.
    *
    * 100 TB/streaming: state is ≤ k value triples + one counter per
    * source — bounded regardless of ingest volume; hashing and
    * tokenize-count run codegen'd in the select BEFORE the keyed
    * shuffle, so the stateful operator only ever sees (source, h, id,
    * len) rows, never text.
    */
  def statefulQuantiles(docs: DataFrame, textCol: String, sourceCol: String,
                        idCol: String, k: Int = graft.operators.Sketches.QsK)
      : Dataset[QuantileRow] = {
    require(k >= 2, s"k=$k too small")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    EventStreams.twsReady(spark)
    docs.select(col(sourceCol).cast("string").as("source"),
        GraftFunctions.unsignedHash(col(idCol)).as("h"),
        col(idCol).cast("long").as("sid"),
        size(split(lower(col(textCol)), "\\s+")).cast("long").as("len"))
      // null text ⇒ null len, which the primitive-Long tuple encoder
      // NPEs on at runtime — exclude it up front, the batch
      // quantileSketch's v.isNotNull discipline (statefulAnomaly's
      // filter, same reason)
      .filter(col("len").isNotNull && col("sid").isNotNull)
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new QuantileSketchProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  private class QuantileSketchProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long, Long), QuantileRow] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, ValueState}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var sk: ValueState[QSketchState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sk = getHandle.getValueState[QSketchState]("qsketch",
        E.product[QSketchState], TTLConfig.NONE)

    override def handleInputRows(source: String,
                                 rows: Iterator[(String, Long, Long, Long)],
                                 timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[QuantileRow] = {
      val ord = Ordering.Tuple3[Long, Long, Long]
      var st = if (sk.exists()) sk.get() else QSketchState(0L, Vector.empty)
      var n = st.n
      var smp = st.sample // sorted ascending by (h, sid, v)
      rows.foreach { case (_, h, sid, v) =>
        n += 1
        val e = (h, sid, v)
        if (smp.size < k || ord.lt(e, smp.last)) {
          // lower-bound insert keeps the vector sorted; duplicates of an
          // identical (h, sid, v) row stay (a row is a sample unit —
          // the batch window's row_number keeps them too)
          var lo = 0; var hi = smp.size
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (ord.lt(smp(mid), e)) lo = mid + 1 else hi = mid
          }
          smp = (smp.take(lo) :+ e) ++ smp.drop(lo)
          if (smp.size > k) smp = smp.take(k)
        }
      }
      sk.update(QSketchState(n, smp))
      val vs = smp.map(_._3).sorted
      def pctOf(pct: Int): Long = vs(((vs.size.toLong * pct + 99L) / 100L).toInt - 1)
      if (vs.isEmpty) Iterator.empty
      else Iterator.single(
        QuantileRow(source, n, vs.size.toLong, pctOf(50), pctOf(90), pctOf(99)))
    }
  }

  /** Cross-band combine of [[nearDupBandFlags]]: one row per doc with
    * the earliest dup partner over any band (`dup_of`, null if unique)
    * and the 0/1 flag. Batch composition; in a streaming deployment
    * this is the bounded pass over the flag sink.
    */
  def nearDupFlags(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame =
    combineBandFlags(nearDupBandFlags(docs, textCol, idCol, maxHamming).toDF())

  /** The combine alone — runs over a live [[nearDupBandFlags]] result or
    * its sink table (same schema).
    */
  def combineBandFlags(flags: DataFrame): DataFrame =
    flags
      .groupBy("doc_id")
      .agg(min(col("dup_of")).as("dup_of"))
      .withColumn("is_dup",
        when(col("dup_of").isNotNull, lit(1)).otherwise(lit(0)))
      .select("doc_id", "dup_of", "is_dup")
}

final case class BandFlag(doc_id: Long, band: Int, dup_of: Option[Long])

final case class BandBucketState(fps: Vector[(Long, Long)])

final case class BloomProbe(doc_id: Long, hit: Boolean)

final case class PosState(firstId: Long)

final case class ChunkProbe(doc_id: Long, chunk_len: Int, hit: Boolean)

final case class QSketchState(n: Long, sample: Vector[(Long, Long, Long)])

final case class QuantileRow(source: String, n_rows: Long, sample_n: Long,
                             p50: Long, p90: Long, p99: Long)

final case class ChunkState(firstId: Long)
