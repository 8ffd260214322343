package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checkpointed exactly-once micro-batch sinks — the write-side half of
  * the streaming story (st01–st27 are read/transform surfaces; this is
  * how their outputs land durably).
  *
  * Structured Streaming's contract with `foreachBatch` is AT-LEAST-once:
  * after a crash between a batch's execution and its commit-log write,
  * restart re-executes that batch with the SAME `batchId` and (for
  * replayable sources + versioned state stores) the same rows. Exactly-
  * once therefore needs an idempotent sink: this one keys every write
  * by `batchId` and commits it with a create-if-absent marker, so a
  * replayed batch is either skipped (marker present — the crash was
  * after commit) or deterministically overwritten (marker absent — the
  * crash was mid-write), never appended twice.
  *
  * Layout under `outDir`:
  *   data/batch_id=<id>/...parquet   (static-partition overwrite per batch)
  *   _commits/<id>                   (empty marker; atomic create)
  * Readers consume ONLY manifest-committed partitions
  * ([[readCommitted]]), so a half-written batch directory is invisible.
  *
  * 100 TB: one directory per micro-batch is the standard streaming-
  * ingest layout (compaction is a downstream batch job —
  * [[compactIncremental]]); the manifest
  * is O(batches) empty files, listable in one RPC per poll. On object
  * stores without atomic directory rename, pair this with a cloud
  * committer for the data write — the marker commit is a single-file
  * create, atomic on S3/GCS/HDFS alike.
  */
object Sinks {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitMarker(outDir: String, batchId: Long) =
    new Path(s"$outDir/_commits/$batchId")

  /** Default staleness horizon for compaction leases (ms): a lease
    * older than this is a crashed holder and may be taken over. Size
    * it beyond the longest expected compaction run.
    */
  val LeaseStaleMs: Long = 30L * 60 * 1000

  /** Thrown when a compactor detects a LIVE concurrent compactor on
    * the same cut (the single-compactor discipline, violated): the
    * newcomer aborts — the holder will commit the identical content
    * (same manifest snapshot + same tail ⇒ same rows), so aborting
    * loses nothing and prevents two jobs racing `mode("overwrite")`
    * on one directory.
    */
  final class ConcurrentCompactionException(msg: String)
    extends IllegalStateException(msg)

  /** Acquire the per-cut compaction lease (atomic create-if-absent):
    * fresh holder ⇒ throw [[ConcurrentCompactionException]]; stale
    * holder (older than `staleMs` — a crashed compactor) ⇒ take over.
    * The takeover's delete+create pair can itself race another
    * taker-over: the create-if-absent loser aborts, so at most one
    * compactor ever believes it holds a cut's lease.
    */
  private def acquireLease(hfs: org.apache.hadoop.fs.FileSystem,
                           lease: Path, staleMs: Long): Unit = {
    hfs.mkdirs(lease.getParent)
    if (hfs.exists(lease)) {
      val age = System.currentTimeMillis() - hfs.getFileStatus(lease)
        .getModificationTime
      if (age < staleMs)
        throw new ConcurrentCompactionException(
          s"live compaction lease $lease (age ${age / 1000}s < " +
            s"${staleMs / 1000}s) — a concurrent compactor holds this " +
            "cut; single-compactor discipline violated, aborting")
      System.err.println(s"[sink] stale lease $lease (${age / 1000}s) — " +
        "taking over from a crashed compactor")
      hfs.delete(lease, false)
    }
    if (!hfs.createNewFile(lease))
      throw new ConcurrentCompactionException(
        s"lost the lease race on $lease — a concurrent compactor just " +
          "acquired this cut; aborting")
  }

  /** True when any fresh (non-stale) lease exists under `dir` — a
    * compaction is in progress; GC uses this to retain everything an
    * in-flight run might still read.
    */
  private def anyFreshLease(hfs: org.apache.hadoop.fs.FileSystem,
                            dir: Path, staleMs: Long): Boolean =
    hfs.exists(dir) && hfs.listStatus(dir).exists { st =>
      System.currentTimeMillis() - st.getModificationTime < staleMs
    }

  /** GC housekeeping: drop stale leases (crashed holders) and leases
    * whose cut is already manifested (committed, crashed before
    * release — the work is durable, the lease is dead).
    */
  private def sweepLeases(hfs: org.apache.hadoop.fs.FileSystem,
                          dir: Path, manifested: Set[Long],
                          staleMs: Long): Unit =
    if (hfs.exists(dir)) hfs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      val done = name.matches("\\d+") && manifested.contains(name.toLong)
      val stale =
        System.currentTimeMillis() - st.getModificationTime >= staleMs
      if (done || stale) hfs.delete(st.getPath, false)
    }

  /** The `foreachBatch` function: idempotent per-batch parquet write.
    * Pass as `.writeStream.foreachBatch(Sinks.exactlyOnceParquet(dir) _)`
    * with a `checkpointLocation` — the checkpoint provides replay, this
    * sink provides idempotence; exactly-once is the pair.
    *
    * Streaming floor: no query calls the sink; it stays because
    * SinksSpec drives st20's stream through it to hold the committed
    * view equal to the batch report across crashes and restarts.
    */
  def exactlyOnceParquet(outDir: String)(df: DataFrame, batchId: Long): Unit = {
    val spark = df.sparkSession
    val hfs = fs(spark, outDir)
    val marker = commitMarker(outDir, batchId)
    if (hfs.exists(marker)) {
      // Replayed batch, crash was AFTER commit: emit nothing — but
      // still DRAIN every partition. Stateful queries commit their
      // state stores through the batch job foreachBatch runs, and
      // Spark 4 validates that all partitions committed
      // (STATE_STORE_COMMIT_VALIDATION_FAILED on an early return).
      System.err.println(s"[sink] batch $batchId already committed — drop")
      df.foreach(_ => ())
      return
    }
    // crash was mid-write (or first attempt): overwrite is idempotent
    df.write.mode("overwrite").parquet(s"$outDir/data/batch_id=$batchId")
    hfs.mkdirs(marker.getParent)
    // atomic create-if-absent; a concurrent committer losing this race
    // would have written identical data (same batchId, same rows)
    hfs.createNewFile(marker)
    ()
  }

  /** Batch ids the manifest records as committed (empty set before the
    * first commit).
    */
  def committedBatches(spark: SparkSession, outDir: String): Set[Long] = {
    val hfs = fs(spark, outDir)
    val dir = new Path(s"$outDir/_commits")
    if (!hfs.exists(dir)) Set.empty
    // tolerate non-marker names (stray temp files, object-store
    // checksum twins): only all-digit names are batch markers
    else hfs.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("\\d+")).map(_.toLong).toSet
  }

  /** The exactly-once view: union of manifest-committed batch
    * directories only — a batch directory without its marker (crash
    * mid-write) is invisible until its replay commits it. Streaming
    * floor: read only by SinksSpec and the compacted view below.
    */
  def readCommitted(spark: SparkSession, outDir: String): DataFrame = {
    val ids = committedBatches(spark, outDir).toSeq.sorted
    require(ids.nonEmpty, s"no committed batches under $outDir")
    spark.read.parquet(ids.map(id => s"$outDir/data/batch_id=$id"): _*)
  }

  /** Partition directory key a compaction version is laid out by;
    * never read back, so the compacted view's schema equals the sink's.
    */
  private[streaming] val CompactPartCol = "__part"

  // ---------------------------------------------------------------------
  // Partition-granular bounded-rewrite compaction (the step short of a
  // file-granular Delta/Iceberg log, which stays out of scope).
  // ---------------------------------------------------------------------

  /** Committed incremental-compaction cuts, ascending (empty before the
    * first). Same all-digit-name discipline as [[committedBatches]].
    */
  def incrementalCuts(spark: SparkSession, targetDir: String): Seq[Long] = {
    val hfs = fs(spark, targetDir)
    val dir = new Path(s"$targetDir/_pmanifests")
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("\\d+")).map(_.toLong).toSeq.sorted
  }

  /** The per-partition manifest, resolved: partition value (string
    * form) → the newest committed cut whose version dir contains it.
    * The manifest needs NO content file — a commit is the same single
    * empty-marker create as everywhere else in this sink (atomic on
    * S3/GCS/HDFS alike; no rename, nothing transactional to write) and
    * the mapping is reconstructed by listing one directory per
    * committed compaction: O(compactions) RPCs, bounded by the
    * [[gcIncremental]] retention cadence. `asOf` restricts to cuts
    * ≤ the given manifest (the view a reader of that manifest sees).
    */
  def incrementalVersions(spark: SparkSession, targetDir: String,
                          asOf: Option[Long] = None): Map[String, Long] = {
    val hfs = fs(spark, targetDir)
    val cuts = incrementalCuts(spark, targetDir)
      .filter(c => asOf.forall(c <= _))
    cuts.foldLeft(Map.empty[String, Long]) { (m, v) =>
      val d = new Path(s"$targetDir/pdata/v=$v")
      val parts =
        if (!hfs.exists(d)) Seq.empty[String]
        else hfs.listStatus(d).map(_.getPath.getName).toSeq
          .filter(_.startsWith(s"$CompactPartCol="))
          .map(_.stripPrefix(s"$CompactPartCol="))
      m ++ parts.map(_ -> v)
    }
  }

  /** Bounded-rewrite compaction: rewrite ONLY the partitions the new
    * batches touch, not the full history.
    *
    * Layout under `targetDir`:
    *   pdata/v=<cut>/__part=<p>/...parquet  (partitions TOUCHED at that cut)
    *   _pmanifests/<cut>                    (empty marker; atomic create)
    * A partition's current data lives at its newest committed version
    * ([[incrementalVersions]]); versions are never rewritten in place.
    *
    * Each run reads (previous version of the touched partitions) +
    * (batches past the previous cut), unions, and writes ONE new
    * version dir holding just those partitions — for a time-partitioned
    * stream the touched set is the recent dates, so old partitions
    * reach a terminal version and are never read or written again.
    * Crash mid-write leaves a marker-less v=<cut> dir readers never
    * resolve (they keep the previous manifest's view); a re-run
    * overwrites it deterministically — or keys by a higher cut if new
    * batches landed, orphaning the debris for [[gcIncremental]] — and
    * then commits. Re-runs after commit are no-ops. Both windows
    * certified in SinksSpec.
    *
    * Concurrency (r15 verdict task): the single-compactor discipline
    * is enforced, not assumed — a per-cut lease aborts a second live
    * compactor on the SAME cut ([[ConcurrentCompactionException]]),
    * and version resolution is pinned as-of this run's `prev`
    * manifest, which makes compactors racing on DIFFERENT cuts
    * convergent (each cut is self-consistent; readers resolve the
    * newest — no duplicates, no lost rows; SinksSpec certifies the
    * interleave).
    *
    * The partition expression must be non-null and its STRING form
    * must round-trip as a directory name (dates, ints, enum-ish
    * strings — the usual compaction grains). The touched-partition set
    * is collected to the driver: it is bounded by the partition grain
    * (dates at 100 TB), never by the data, and fenced below.
    *
    * Streaming floor: no query compacts; SinksSpec holds the compacted
    * view equal to [[readCommitted]] through crashes, races and GC.
    */
  def compactIncremental(spark: SparkSession, outDir: String,
                         targetDir: String,
                         partition: org.apache.spark.sql.Column,
                         leaseStaleMs: Long = LeaseStaleMs): Option[Long] =
    compactIncrementalFrom(spark, outDir, targetDir, partition,
      committedBatches(spark, outDir),
      incrementalCuts(spark, targetDir).lastOption, leaseStaleMs)

  /** [[compactIncremental]]'s body after the state observation —
    * package-private so SinksSpec can interleave two compactors by
    * handing each the (ids, prev) it observed BEFORE the other
    * committed, certifying the convergence argument above instead of
    * asserting it.
    */
  private[streaming] def compactIncrementalFrom(
      spark: SparkSession, outDir: String, targetDir: String,
      partition: org.apache.spark.sql.Column,
      ids: Set[Long], prev: Option[Long],
      leaseStaleMs: Long = LeaseStaleMs): Option[Long] = {
    import org.apache.spark.sql.functions.lit
    if (ids.isEmpty && prev.isEmpty) return None
    val cut = (ids ++ prev).max
    val hfs = fs(spark, targetDir)
    val marker = new Path(s"$targetDir/_pmanifests/$cut")
    if (hfs.exists(marker)) return Some(cut)
    // Single-compactor discipline, ENFORCED per cut: a live concurrent
    // compactor on the same cut would race this run's mode("overwrite")
    // on one version dir — the lease aborts the newcomer (the holder
    // commits input-identical content: same prev, same tail).
    val lease = new Path(s"$targetDir/_pleases/$cut")
    acquireLease(hfs, lease, leaseStaleMs)
    try {
      val tail = ids.filter(id => prev.forall(id > _)).toSeq.sorted
      // The tail is consumed twice (touched-partition distinct + union
      // write) and is deliberately NOT persisted: the distinct's scan
      // is COLUMN-PRUNED to the partition expression's inputs (a date
      // column — a sliver of the bytes), while persist() would
      // materialize the FULL-width tail into the cache. Measured
      // (100 k-row 4-batch tail at sf0.1,
      // steady state): persisted 1.48 s vs double-read 1.26 s — the
      // persist costs ~18% MORE at this shape and scales with row
      // width where the pruned re-read scales with one column. The
      // "redundant read" is the cheaper half of the pair.
      val fresh = spark.read
        .parquet(tail.map(id => s"$outDir/data/batch_id=$id"): _*)
        .withColumn(CompactPartCol, partition.cast("string"))
      locally {
        val touched = fresh.select(CompactPartCol).distinct()
          .collect().map(_.getString(0))
        require(!touched.contains(null),
          "compactIncremental needs a non-null partition value on every row")
        require(touched.length <= 100000,
          s"${touched.length} touched partitions — the grain is meant to be " +
            "dates/buckets; repartition the expression, not the fence")
        // Version resolution pinned AS-OF `prev` — the same manifest
        // snapshot the tail was computed against. Unpinned ("newest
        // committed"), a concurrent compactor committing a LOWER cut
        // mid-run would make this run read its version (which already
        // contains part of our tail) and union the tail again —
        // duplicate rows at the higher cut readers then resolve.
        // Pinned, compactors on different cuts converge: each cut's
        // content is (versions as-of its prev) + (batches past prev),
        // and readers resolve each partition at its newest cut. A run
        // that observed NO manifest reads no versions at all (its tail
        // is the full committed set) — asOf=None in incrementalVersions
        // means "unrestricted", the opposite pin.
        val current = prev.fold(Map.empty[String, Long])(pc =>
          incrementalVersions(spark, targetDir, Some(pc)))
        // previous content of the touched partitions, grouped by the
        // version dir it lives in (leaf-dir reads: no partition inference —
        // re-attach the known value as a literal so types stay uniform)
        val prevParts = touched.toSeq.sorted
          .flatMap(p => current.get(p).map(v => (v, p)))
          .groupBy(_._1).toSeq.sortBy(_._1)
          .flatMap { case (v, ps) =>
            ps.map { case (_, p) =>
              spark.read.parquet(s"$targetDir/pdata/v=$v/$CompactPartCol=$p")
                .withColumn(CompactPartCol, lit(p))
            }
          }
        (prevParts :+ fresh).reduce(_ unionByName _)
          .write.mode("overwrite")
          .partitionBy(CompactPartCol)
          .parquet(s"$targetDir/pdata/v=$cut")
      }
      hfs.mkdirs(marker.getParent)
      if (!hfs.createNewFile(marker))
        // Post-write conflict re-check: reachable only through a stale-
        // lease takeover race. The committed content is input-identical
        // to ours (same prev + same tail), and our just-finished
        // overwrite of the SAME keyed dir is what the marker now
        // commits — log-and-converge.
        System.err.println(s"[sink] pmanifest $cut appeared during this " +
          "run — a concurrent compactor committed the same cut; " +
          "converging (single-compactor discipline violated upstream)")
      Some(cut)
    } finally hfs.delete(lease, false)
  }

  /** The reader over an incrementally-compacted sink: each partition at
    * its current version, plus every committed batch NEWER than the
    * latest cut — before the first compaction, exactly
    * [[readCommitted]]. Equal to [[readCommitted]] at every lifecycle
    * point (certified in SinksSpec). Schema equals the sink's (the
    * partition column is layout-only and never read back). Streaming
    * floor: only SinksSpec reads it.
    */
  def readIncrementalView(spark: SparkSession, outDir: String,
                          targetDir: String): DataFrame =
    incrementalCuts(spark, targetDir).lastOption match {
      case None => readCommitted(spark, outDir)
      case Some(cut) =>
        val current = incrementalVersions(spark, targetDir)
        val paths = current.toSeq.sortBy(x => (x._2, x._1)).map { case (p, v) =>
          s"$targetDir/pdata/v=$v/$CompactPartCol=$p"
        }
        val snap = spark.read.parquet(paths: _*)
        val newer = committedBatches(spark, outDir).filter(_ > cut).toSeq.sorted
        if (newer.isEmpty) snap
        else snap.unionByName(spark.read.parquet(
          newer.map(id => s"$outDir/data/batch_id=$id"): _*))
    }

  /** GC for the incremental layout. Deletes, in this order:
    *
    *  - marker-less `pdata/v=` dirs (crashed attempts; a re-run
    *    overwrites its version dir before committing, so deleting one
    *    loses nothing). A compactor racing this GC is DETECTED, not
    *    assumed away: while any fresh `_pleases/<cut>` exists (an
    *    in-flight [[compactIncremental]], this host or another) the
    *    pdata sweep is skipped for the run — an in-progress version dir
    *    is marker-less and the in-flight run's source versions must
    *    outlive it;
    *  - SUPERSEDED partition subdirs: a `v=<v>/__part=<p>` whose p no
    *    longer resolves to v under the newest `keepCuts` manifests
    *    (each older manifest's as-of view is protection for readers
    *    pinned to it — size `keepCuts` beyond the longest-running
    *    reader);
    *  - version dirs (and their manifests) left EMPTY by the above —
    *    a manifest may only disappear together with its last data,
    *    since resolution walks manifested version dirs;
    *  - with `gcBatchDirs`, batch dirs + markers ≤ the latest cut
    *    (sound: [[compactIncremental]] reads only past-cut batches).
    *
    * Returns (partition subdirs deleted, batch dirs deleted).
    * Streaming floor: only SinksSpec runs it, to show GC never breaks
    * the compacted view.
    */
  def gcIncremental(spark: SparkSession, outDir: String, targetDir: String,
                    keepCuts: Int = 2,
                    gcBatchDirs: Boolean = false,
                    leaseStaleMs: Long = LeaseStaleMs): (Int, Int) = {
    require(keepCuts >= 1, "must retain at least the latest manifest view")
    val hfs = fs(spark, targetDir)
    val cuts = incrementalCuts(spark, targetDir)
    val leaseDir = new Path(s"$targetDir/_pleases")
    sweepLeases(hfs, leaseDir, cuts.toSet, leaseStaleMs)
    val inProgress = anyFreshLease(hfs, leaseDir, leaseStaleMs)
    if (inProgress)
      System.err.println("[sink] fresh compaction lease present — " +
        "skipping the pdata sweep this run (in-flight compactor)")
    val retainedCuts = cuts.takeRight(keepCuts)
    // every (partition, version) any retained manifest's as-of view
    // resolves
    val protectedPairs: Set[(String, Long)] = retainedCuts
      .flatMap(c => incrementalVersions(spark, targetDir, Some(c)).toSeq)
      .toSet
    var subdirsDeleted = 0
    val root = new Path(s"$targetDir/pdata")
    if (!inProgress && hfs.exists(root)) hfs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("v=")) {
        val vStr = name.stripPrefix("v=")
        val committed = vStr.matches("\\d+") && cuts.contains(vStr.toLong)
        if (!committed) { // crashed attempt: whole dir is debris
          hfs.delete(st.getPath, true)
          subdirsDeleted += 1
        } else {
          val v = vStr.toLong
          hfs.listStatus(st.getPath)
            .filter(_.getPath.getName.startsWith(s"$CompactPartCol="))
            .foreach { part =>
              val p = part.getPath.getName.stripPrefix(s"$CompactPartCol=")
              if (!protectedPairs.contains((p, v))) {
                hfs.delete(part.getPath, true)
                subdirsDeleted += 1
              }
            }
          // dir left with no partition subdirs (only _SUCCESS etc.):
          // the version is fully superseded — its manifest may only
          // disappear together with its last data, since resolution
          // walks manifested version dirs
          if (!hfs.listStatus(st.getPath)
              .exists(_.getPath.getName.startsWith(s"$CompactPartCol="))) {
            hfs.delete(st.getPath, true)
            hfs.delete(new Path(s"$targetDir/_pmanifests/$vStr"), false)
          }
        }
      }
    }
    var batchesDeleted = 0
    if (gcBatchDirs && cuts.nonEmpty) {
      val floor = retainedCuts.min
      val ofs = fs(spark, outDir)
      committedBatches(spark, outDir).filter(_ <= floor).toSeq.sorted
        .foreach { id =>
          ofs.delete(new Path(s"$outDir/_commits/$id"), false)
          ofs.delete(new Path(s"$outDir/data/batch_id=$id"), true)
          batchesDeleted += 1
        }
    }
    (subdirsDeleted, batchesDeleted)
  }
}
