package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.tables.{Tables => T}

/** Pins for the distributed Lloyd k-means fit (x71): assignment is the
  * true argmax-cosine over the final codebook, updates move centroids
  * to their members' grid-exact means, empty cells carry their previous
  * centroid, the fit is deterministic, and the per-round plan keeps
  * assignment scan-side (no corpus exchange before the update
  * aggregate's).
  */
class KMeansSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The x71 shape: a Lloyd fit, then the corpus assigned against it. */
  private def kMeans(emb: DataFrame, k: Int, iters: Int): DataFrame =
    Similarity.kMeansAssignWith(emb, "embedding", "vec_id",
      Similarity.kMeansFitSeq(emb, "embedding", "vec_id", k, iters))

  test("kMeans: every vector is assigned to a cell named by an initial " +
       "sample id, exactly one row per vector, cosine present") {
    val emb = T.embeddings(spark, sf)
    val n = emb.count()
    val got = kMeans(emb, k = 8, iters = 2)
    val rows = got.collect()
    assert(rows.length === n)
    assert(rows.map(_.getLong(0)).distinct.length === n, "duplicate vec_id rows")
    val cells = rows.map(_.getLong(1)).distinct
    assert(cells.length <= 8, s"more cells than k: ${cells.toList}")
    assert(rows.forall(!_.isNullAt(2)), "null cosine on a real embedding corpus")
  }

  test("kMeans is deterministic: two independent fits agree row-for-row") {
    val emb = T.embeddings(spark, sf)
    def run() = kMeans(emb, k = 4, iters = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(run() === run())
  }

  test("kMeans on a constructed corpus: two tight clusters converge to " +
       "their member means; assignment is the argmax cosine") {
    // two clusters around orthogonal directions; ids chosen so the
    // hash-min sample picks one seed from EACH cluster is not required —
    // even a bad seeding must end with members split by the update step
    val vecs = (
      (0L to 4L).map(i => (i, Array(1f, 0.001f * i, 0f))) ++
      (10L to 14L).map(i => (i, Array(0f, 0.001f * i, 1f)))).toSeq
    val emb = vecs.toDF("vec_id", "embedding")
    val got = kMeans(emb, k = 2, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // cluster-mates must share a cell, the two clusters must not
    val cellsA = (0L to 4L).map(got).toSet
    val cellsB = (10L to 14L).map(got).toSet
    assert(cellsA.size === 1, s"cluster A split: $cellsA")
    assert(cellsB.size === 1, s"cluster B split: $cellsB")
    assert(cellsA != cellsB, "clusters merged into one cell")
  }

  test("kMeans: an emptied cell keeps its previous centroid (no respawn, " +
       "no crash), and k larger than the corpus still fits") {
    // 3 identical vectors: after one update every vector sits in one
    // cell; the other initial cells are empty from round 1 on
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = kMeans(emb, k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 3)
    assert(got.map(_._2).distinct.length === 1, s"identical vectors split: ${got.toList}")
    assert(got.forall(r => math.abs(r._3 - 1.0) < 1e-9), s"cosine to own mean != 1: ${got.toList}")
  }

  test("kMeans guard: k beyond MaxCodebookEntries fails fast") {
    val emb = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      kMeans(emb, k = Similarity.MaxCodebookEntries + 1, iters = 1)
    }
    assert(e.getMessage.contains("MaxCodebookEntries"))
  }

  test("kMeans matches a driver-side reference Lloyd fit on a small corpus " +
       "(seeding, election tie-break, grid-exact means, empty-cell carry)") {
    // independent reimplementation of the WHOLE fit in plain Scala —
    // the same role the DuckDB oracle plays at the query surface
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(6)((rnd.nextInt(2001) - 1000) / 1000.0f))).toSeq
    val emb = vecs.toDF("vec_id", "embedding")
    val (k, iters, grid) = (4, 3, 1048576)
    def round6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q(x: Double) = math.floor(x * grid + 0.5) / grid
    def cos(a: Seq[Double], b: Seq[Double]): java.lang.Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      if (na == 0 || nb == 0) null else round6(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    // seeding: smallest (murmur3(id) unsigned, id) — read Spark's own
    // hash() values so the reference doesn't reimplement murmur3
    val hu = emb.select(col("vec_id"),
        hash(col("vec_id")).cast("bigint").bitwiseAND(lit(4294967295L)).as("hu"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seedIds = vecs.map(_._1).sortBy(id => (hu(id), id)).take(k).sorted
    val data = vecs.map { case (id, v) => id -> v.map(_.toDouble).toSeq }.toMap
    var cb: Map[Long, Seq[Double]] = seedIds.map(id => id -> data(id)).toMap
    def assignAll(): Map[Long, Long] = data.map { case (id, v) =>
      id -> cb.toSeq.map { case (cell, c) =>
        (Option(cos(v, c)).map(s => -s).getOrElse(Double.MaxValue), cell)
      }.min._2
    }
    for (_ <- 1 to iters) {
      val asg = assignAll()
      val upd = asg.groupBy(_._2).map { case (cell, members) =>
        val vs = members.keys.map(data).toSeq
        cell -> vs.head.indices.map(i =>
          round6(vs.map(v => q(v(i))).sum / vs.size))
      }
      cb = cb.map { case (cell, old) => cell -> upd.getOrElse(cell, old) }
    }
    val expected = assignAll()
    val got = kMeans(emb, k = k, iters = iters)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected, "assignment diverged from the reference fit")
  }

  test("ivfTopKTrained with nProbe = cells probes the whole index and " +
       "equals exact brute-force top-k; fewer probes return a subset") {
    val emb = T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val cb = Similarity.kMeansFitSeq(emb, "embedding", "vec_id", k = 4, iters = 2)
    val all = rows(Similarity.ivfTopKTrainedWith(emb, queries, "embedding", "vec_id",
      k = 10, cb = cb, nProbe = 4))
    val exact = rows(Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 10))
    assert(all === exact, "full-probe trained IVF must equal brute force")
    val probed = Similarity.ivfTopKTrainedWith(emb, queries, "embedding", "vec_id",
        k = 10, cb = cb, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exactPairs = exact.map(t => (t._1, t._3))
    // partial probing returns candidates only from probed cells — every
    // returned pair is a real candidate, scored identically
    assert(probed.nonEmpty)
    info(s"nProbe=2 recall vs exact top-10: ${
      probed.count(exactPairs.contains).toDouble / exactPairs.size}")
  }

  test("kMeans plan: assignment is scan-side — the corpus reaches the " +
       "election without an Exchange (only the 1-row codebook aggregate " +
       "and the k*dim update shuffle exchange)") {
    val emb = T.embeddings(spark, sf)
    val out = kMeans(emb, k = 4, iters = 1)
    val plan = out.queryExecution.executedPlan.toString
    // final plan = cached corpus × broadcast single-row codebook + project
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the 1-row broadcast codebook join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus must not shuffle for assignment:\n$plan")
  }
}
