package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkTestBase

/** Exactly-once restart certification for the foreachBatch parquet sink
  * (the write-side streaming surface): st20's CDC probe stream lands in
  * batch_id partitions with a commit manifest; a crash in EITHER window
  * (after data write / after manifest commit) replays the batch on
  * restart, and the sink's idempotence keeps the committed view exact.
  */
class SinksSpec extends SparkTestBase {
  import spark.implicits._

  private val docsA = Seq(
    Doc(1L, "the quick brown fox jumps over the lazy dog again and again"),
    Doc(2L, "the quick brown fox jumps over the lazy dog again and again"),
    Doc(3L, "completely different text about spark streaming state stores"))
  private val docsB = Seq(
    Doc(4L, "the quick brown fox jumps over the lazy dog again and AGAIN"),
    Doc(5L, "another unrelated document mentioning parquet and shuffles"))
  private val docsC = Seq(
    Doc(6L, "a third wave of text arriving after the restart happened"))

  private def startQuery(input: MemoryStream[Doc], out: String, cp: String) =
    DocStreams.cdcFirstSeenProbes(input.toDF(), "text", "doc_id").toDF()
      .writeStream
      .foreachBatch(Sinks.exactlyOnceParquet(out) _)
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Update())
      .start()

  test("exactly-once parquet sink: clean run commits every batch once " +
       "and the committed view equals the stream output") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sink1").toString
    val (out, cp) = (s"$dir/out", s"$dir/cp")
    val input = MemoryStream[Doc]
    val q = startQuery(input, out, cp)
    try {
      input.addData(docsA); q.processAllAvailable()
      input.addData(docsB); q.processAllAvailable()
    } finally q.stop()
    assert(Sinks.committedBatches(spark, out) === Set(0L, 1L))
    val view = Sinks.readCommitted(spark, out)
    // every document's chunks land exactly once
    val perDoc = view.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.keySet === Set(1L, 2L, 3L, 4L, 5L))
    val batch = DocStreams.cdcFirstSeenReport(
      (docsA ++ docsB).toDF(), "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc === batch, "committed chunk counts must equal the batch report")
  }

  test("restart after crash-AFTER-commit (checkpoint commit log lost, " +
       "sink manifest present): the replayed batch is SKIPPED — no " +
       "duplicate rows") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sink2").toString
    val (out, cp) = (s"$dir/out", s"$dir/cp")
    val input = MemoryStream[Doc]
    val q1 = startQuery(input, out, cp)
    try {
      input.addData(docsA); q1.processAllAvailable()
      input.addData(docsB); q1.processAllAvailable()
    } finally q1.stop()
    val before = Sinks.readCommitted(spark, out).count()
    // simulate the crash window: Spark executed batch 1 and the sink
    // committed it, but the checkpoint's commit-log write was lost —
    // restart must re-execute batch 1 (same id, same rows). A real
    // crash loses the checksum twin too (LocalFS writes .N.crc).
    assert(Files.deleteIfExists(Paths.get(s"$cp/commits/1")))
    Files.deleteIfExists(Paths.get(s"$cp/commits/.1.crc"))
    val q2 = startQuery(input, out, cp)
    try {
      q2.processAllAvailable() // replays batch 1 → sink skips
      input.addData(docsC); q2.processAllAvailable() // stream continues
    } finally q2.stop()
    assert(Sinks.committedBatches(spark, out) === Set(0L, 1L, 2L))
    val view = Sinks.readCommitted(spark, out)
    assert(view.filter($"doc_id" <= 5L).count() === before,
      "replayed batch must not duplicate rows")
    assert(view.filter($"doc_id" === 6L).count() > 0,
      "post-restart batch must land")
    // chunk-level exactness: one row per (doc, chunk index)
    val dup = view.groupBy("doc_id", "chunk_len", "hit").count()
    assert(view.count() ===
      DocStreams.cdcFirstSeenReport((docsA ++ docsB ++ docsC).toDF(),
        "text", "doc_id").agg(
        org.apache.spark.sql.functions.sum("n_chunks")).head().getLong(0),
      s"total committed chunks must equal the batch total; got ${dup.collect().mkString}")
  }

  test("restart after crash-MID-WRITE (data written, sink manifest " +
       "missing): the replay overwrites the partition deterministically " +
       "and commits it — still exactly-once") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sink3").toString
    val (out, cp) = (s"$dir/out", s"$dir/cp")
    val input = MemoryStream[Doc]
    val q1 = startQuery(input, out, cp)
    try {
      input.addData(docsA); q1.processAllAvailable()
      input.addData(docsB); q1.processAllAvailable()
    } finally q1.stop()
    // simulate: batch 1's data landed but NEITHER commit happened
    // (sink marker + checkpoint commit log both lost, with their
    // LocalFS .crc twins)
    assert(Files.deleteIfExists(Paths.get(s"$cp/commits/1")))
    Files.deleteIfExists(Paths.get(s"$cp/commits/.1.crc"))
    assert(Files.deleteIfExists(Paths.get(s"$out/_commits/1")))
    Files.deleteIfExists(Paths.get(s"$out/_commits/.1.crc"))
    // the half-written batch is invisible to the committed view
    assert(Sinks.committedBatches(spark, out) === Set(0L))
    val q2 = startQuery(input, out, cp)
    try q2.processAllAvailable() // replays batch 1 → overwrite + commit
    finally q2.stop()
    assert(Sinks.committedBatches(spark, out) === Set(0L, 1L))
    val perDoc = Sinks.readCommitted(spark, out)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = DocStreams.cdcFirstSeenReport(
      (docsA ++ docsB).toDF(), "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc === batch,
      "overwritten replay must land the batch exactly once")
  }

  private def viewKey(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private val docsD = Seq(
    Doc(7L, "a fourth wave of text landing after the garbage collection"))

  private def partOf(c: String) = org.apache.spark.sql.functions.pmod(
    org.apache.spark.sql.functions.col(c), org.apache.spark.sql.functions.lit(2L))

  test("compactIncremental: only touched partitions are rewritten; the " +
       "incremental view equals the committed view across compactions; " +
       "re-runs are no-ops") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sinkinc1").toString
    val (out, cp, tgt) = (s"$dir/out", s"$dir/cp", s"$dir/inc")
    val part = partOf("doc_id")
    val input = MemoryStream[Doc]
    val q = startQuery(input, out, cp)
    try {
      input.addData(docsA); q.processAllAvailable()
      input.addData(docsB); q.processAllAvailable()
      assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(1L))
      assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) ===
        viewKey(Sinks.readCommitted(spark, out)))
      // docsC = doc 6 only → partition 0; partition 1 must NOT be
      // rewritten at the new cut
      input.addData(docsC); q.processAllAvailable()
      assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) ===
        viewKey(Sinks.readCommitted(spark, out)),
        "post-cut batches must stay visible before the next compaction")
      assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(2L))
    } finally q.stop()
    assert(Files.exists(Paths.get(
      s"$tgt/pdata/v=2/${Sinks.CompactPartCol}=0")))
    assert(!Files.exists(Paths.get(
      s"$tgt/pdata/v=2/${Sinks.CompactPartCol}=1")),
      "an untouched partition must not be rewritten")
    assert(Sinks.incrementalVersions(spark, tgt) ===
      Map("0" -> 2L, "1" -> 1L))
    val committed = Sinks.readCommitted(spark, out)
    val view = Sinks.readIncrementalView(spark, out, tgt)
    assert(view.columns.toSeq === committed.columns.toSeq,
      "incremental view schema must equal the sink's")
    assert(viewKey(view) === viewKey(committed))
    // no-op re-run: same cut, still exactly two manifests
    assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(2L))
    assert(Sinks.incrementalCuts(spark, tgt) === Seq(1L, 2L))
  }

  test("compactIncremental crash MID-WRITE (version dir half-written, " +
       "manifest absent): invisible to readers; a re-run converges") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sinkinc2").toString
    val (out, cp, tgt) = (s"$dir/out", s"$dir/cp", s"$dir/inc")
    val input = MemoryStream[Doc]
    val q = startQuery(input, out, cp)
    try {
      input.addData(docsA); q.processAllAvailable()
      input.addData(docsB); q.processAllAvailable()
    } finally q.stop()
    val before = viewKey(Sinks.readCommitted(spark, out))
    // the crash window: a partial (wrong) version dir, no marker
    Seq(docsA.head).toDF()
      .withColumn(Sinks.CompactPartCol, org.apache.spark.sql.functions.lit("0"))
      .write.partitionBy(Sinks.CompactPartCol).parquet(s"$tgt/pdata/v=1")
    assert(Sinks.incrementalCuts(spark, tgt) === Seq.empty,
      "a marker-less version dir must be invisible")
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) === before,
      "the readable view must not degrade during a crashed compaction")
    // re-run: deterministic overwrite of v=1, then the commit
    assert(Sinks.compactIncremental(spark, out, tgt, partOf("doc_id"))
      === Some(1L))
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) === before,
      "committed view before == after the converged compaction")
  }

  test("gcIncremental: sweeps superseded partition versions and crashed " +
       "attempts; empty versions fold away with their manifests; batch " +
       "GC leaves the view complete and compaction continues") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sinkinc3").toString
    val (out, cp, tgt) = (s"$dir/out", s"$dir/cp", s"$dir/inc")
    val part = partOf("doc_id")
    val input = MemoryStream[Doc]
    val q = startQuery(input, out, cp)
    try {
      input.addData(docsA); q.processAllAvailable()
      input.addData(docsB); q.processAllAvailable()
      assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(1L))
      input.addData(docsC); q.processAllAvailable()
      assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(2L))
      // crashed-attempt debris
      Seq(docsA.head).toDF()
        .withColumn(Sinks.CompactPartCol, org.apache.spark.sql.functions.lit("0"))
        .write.partitionBy(Sinks.CompactPartCol).parquet(s"$tgt/pdata/v=99")
      val before = viewKey(Sinks.readIncrementalView(spark, out, tgt))
      // keep=1: v=1/__part=0 is superseded by v=2 (partition 0 touched
      // by docsC); v=1/__part=1 stays CURRENT; the v=99 debris goes
      assert(Sinks.gcIncremental(spark, out, tgt, keepCuts = 1) === (2, 0))
      assert(!Files.exists(Paths.get(s"$tgt/pdata/v=99")))
      assert(!Files.exists(Paths.get(
        s"$tgt/pdata/v=1/${Sinks.CompactPartCol}=0")))
      assert(Files.exists(Paths.get(
        s"$tgt/pdata/v=1/${Sinks.CompactPartCol}=1")))
      assert(Sinks.incrementalCuts(spark, tgt) === Seq(1L, 2L),
        "a version dir still holding current data keeps its manifest")
      assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) === before)
      // batch-dir GC: all ids ≤ the latest cut go; view stays complete
      assert(Sinks.gcIncremental(spark, out, tgt, keepCuts = 1,
        gcBatchDirs = true) === (0, 3))
      assert(Sinks.committedBatches(spark, out) === Set.empty[Long])
      assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) === before)
      // the stream continues; the next compaction touches only doc 7's
      // partition and the pre-GC rows all survive
      input.addData(docsD); q.processAllAvailable()
      assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(3L))
      val after = viewKey(Sinks.readIncrementalView(spark, out, tgt))
      assert(after.size > before.size)
      assert(before.forall(after.contains),
        "post-GC compaction must retain every pre-GC row")
    } finally q.stop()
  }

  // -------------------------------------------------------------------
  // Single-compactor discipline: enforced/detected (r15 verdict task 2)
  // -------------------------------------------------------------------

  private def backdate(path: String, ageMs: Long): Unit =
    Files.setLastModifiedTime(Paths.get(path),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ageMs))

  test("a LIVE concurrent compactor on the same cut is detected: the " +
       "newcomer aborts with ConcurrentCompactionException, the view " +
       "stays readable, and the run converges once the lease is free") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sinkrace1").toString
    val (out, cp, tgtI) = (s"$dir/out", s"$dir/cp", s"$dir/inc")
    val part = partOf("doc_id")
    val input = MemoryStream[Doc]
    val q = startQuery(input, out, cp)
    try {
      input.addData(docsA); q.processAllAvailable()
      input.addData(docsB); q.processAllAvailable()
    } finally q.stop()
    val before = viewKey(Sinks.readCommitted(spark, out))
    // another compactor holds cut 1's lease (fresh file)
    Files.createDirectories(Paths.get(s"$tgtI/_pleases"))
    Files.createFile(Paths.get(s"$tgtI/_pleases/1"))
    intercept[Sinks.ConcurrentCompactionException] {
      Sinks.compactIncremental(spark, out, tgtI, part)
    }
    // aborting wrote nothing: no manifests, view unchanged
    assert(Sinks.incrementalCuts(spark, tgtI) === Seq.empty)
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgtI)) === before)
    // holder released (deleted) the lease: the run converges
    Files.delete(Paths.get(s"$tgtI/_pleases/1"))
    assert(Sinks.compactIncremental(spark, out, tgtI, part) === Some(1L))
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgtI)) === before)
    // success releases the lease (no stale residue for the next run)
    assert(!Files.exists(Paths.get(s"$tgtI/_pleases/1")))
  }

  test("a STALE lease (crashed holder) is taken over: compaction " +
       "proceeds and commits") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sinkrace2").toString
    val (out, cp, tgt) = (s"$dir/out", s"$dir/cp", s"$dir/inc")
    val part = partOf("doc_id")
    val input = MemoryStream[Doc]
    val q = startQuery(input, out, cp)
    try { input.addData(docsA); q.processAllAvailable() } finally q.stop()
    Files.createDirectories(Paths.get(s"$tgt/_pleases"))
    Files.createFile(Paths.get(s"$tgt/_pleases/0"))
    backdate(s"$tgt/_pleases/0", Sinks.LeaseStaleMs + 60000)
    assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(0L))
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) ===
      viewKey(Sinks.readCommitted(spark, out)))
  }

  test("two compactors interleaved on DIFFERENT cuts converge: the slow " +
       "one's stale observation commits a lower cut AFTER the fresh one; " +
       "readers resolve the newest version per partition — no duplicate " +
       "and no lost rows; GC then sweeps the superseded cut") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sinkrace3").toString
    val (out, cp, tgt) = (s"$dir/out", s"$dir/cp", s"$dir/inc")
    val part = partOf("doc_id")
    val input = MemoryStream[Doc]
    val q = startQuery(input, out, cp)
    try {
      input.addData(docsA); q.processAllAvailable()
      input.addData(docsB); q.processAllAvailable()
      input.addData(docsC); q.processAllAvailable()
    } finally q.stop()
    val committed = viewKey(Sinks.readCommitted(spark, out))
    // Compactor A observed {0,1} (prev none) and stalled; compactor B
    // observed all three batches and committed cut 2 first.
    assert(Sinks.compactIncrementalFrom(spark, out, tgt, part,
      ids = Set(0L, 1L, 2L), prev = None) === Some(2L))
    // A resumes with its STALE observation and commits cut 1. Its
    // read-set is pinned as-of ITS prev (none) — it must not read B's
    // v=2 (which already contains batches 0-1) and double-count.
    assert(Sinks.compactIncrementalFrom(spark, out, tgt, part,
      ids = Set(0L, 1L), prev = None) === Some(1L))
    assert(Sinks.incrementalCuts(spark, tgt) === Seq(1L, 2L))
    // convergent: every partition resolves at its newest cut (2, which
    // covers all batches), so the view is exactly the committed rows —
    // viewKey is a sorted multiset, so duplicates would fail equality
    assert(Sinks.incrementalVersions(spark, tgt).values.toSet === Set(2L),
      "the fresher cut must supersede the stale compactor's cut")
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) === committed)
    // the stale cut is wholly superseded: GC folds it away, manifest too
    val (sub, _) = Sinks.gcIncremental(spark, out, tgt, keepCuts = 1)
    assert(sub >= 1)
    assert(Sinks.incrementalCuts(spark, tgt) === Seq(2L))
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) === committed)
  }

  test("a REAL two-thread race: gcIncremental runs WHILE a compactor " +
       "thread holds the lease mid-write — GC skips the in-flight " +
       "version, the compaction commits, and the view converges") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sinkrace5").toString
    val (out, cp, tgt) = (s"$dir/out", s"$dir/cp", s"$dir/inc")
    val part = partOf("doc_id")
    val input = MemoryStream[Doc]
    val q = startQuery(input, out, cp)
    try {
      input.addData(docsA); q.processAllAvailable()
      assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(0L))
      input.addData(docsB); q.processAllAvailable()
      input.addData(docsC); q.processAllAvailable()
    } finally q.stop()
    val committed = viewKey(Sinks.readCommitted(spark, out))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val compactor = Future {
      Sinks.compactIncremental(spark, out, tgt, part)
    }
    // wait until the compactor thread actually holds cut 2's lease,
    // then GC repeatedly DURING its write window
    val lease = Paths.get(s"$tgt/_pleases/2")
    var spins = 0
    while (!Files.exists(lease) && !compactor.isCompleted && spins < 600) {
      Thread.sleep(10); spins += 1
    }
    var gcRuns = 0
    while (!compactor.isCompleted) {
      Sinks.gcIncremental(spark, out, tgt, keepCuts = 1)
      gcRuns += 1
    }
    assert(Await.result(compactor, 60.seconds) === Some(2L),
      "the compaction must commit despite concurrent GC")
    assert(gcRuns >= 1, "GC must actually have raced the compactor")
    assert(Sinks.incrementalCuts(spark, tgt).contains(2L))
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) === committed,
      "the converged view must be exactly the committed rows")
    // a final GC after the race still leaves a complete view
    Sinks.gcIncremental(spark, out, tgt, keepCuts = 1)
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) === committed)
  }

  test("GC is lease-aware: a fresh lease suspends the snapshot/pdata " +
       "sweep (in-flight work is not debris); a stale or completed " +
       "lease is swept and GC resumes") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("sinkrace4").toString
    val (out, cp, tgt) = (s"$dir/out", s"$dir/cp", s"$dir/inc")
    val part = partOf("doc_id")
    val input = MemoryStream[Doc]
    val q = startQuery(input, out, cp)
    try {
      input.addData(docsA); q.processAllAvailable()
      assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(0L))
      input.addData(docsB); q.processAllAvailable()
      assert(Sinks.compactIncremental(spark, out, tgt, part) === Some(1L))
    } finally q.stop()
    val before = viewKey(Sinks.readIncrementalView(spark, out, tgt))
    // an in-flight compactor: fresh lease + its marker-less version dir
    Seq(docsA.head).toDF()
      .withColumn(Sinks.CompactPartCol, org.apache.spark.sql.functions.lit("0"))
      .write.partitionBy(Sinks.CompactPartCol).parquet(s"$tgt/pdata/v=9")
    Files.createDirectories(Paths.get(s"$tgt/_pleases"))
    Files.createFile(Paths.get(s"$tgt/_pleases/9"))
    assert(Sinks.gcIncremental(spark, out, tgt, keepCuts = 1) === (0, 0),
      "a fresh lease must suspend the pdata sweep")
    assert(Files.exists(Paths.get(s"$tgt/pdata/v=9")),
      "in-flight work must not be swept as debris")
    // the holder crashed: the lease goes stale → swept, sweep resumes
    backdate(s"$tgt/_pleases/9", Sinks.LeaseStaleMs + 60000)
    val (sub, _) = Sinks.gcIncremental(spark, out, tgt, keepCuts = 1)
    assert(sub >= 1)
    assert(!Files.exists(Paths.get(s"$tgt/pdata/v=9")))
    assert(!Files.exists(Paths.get(s"$tgt/_pleases/9")))
    assert(viewKey(Sinks.readIncrementalView(spark, out, tgt)) === before)
  }
}
