package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-file ~sf1.0 throughput fixture, derived from the driver's sf0.1
  * tables by FK-consistent replication.
  *
  * The driver's sf0.1 parquet is one file with one row group per table,
  * which caps every local scan at 1 task (PERF.md) — plan-level
  * parallel-scan claims could be asserted (PlanSpec) but not measured.
  * This fixture replicates each keyed table `copies`× with every key
  * family shifted by a per-family offset (orderkey offsets applied to
  * BOTH orders and lineitem, etc.), so joins stay consistent and key
  * cardinalities scale with volume, and writes `filesPerTable` parquet
  * files per table so scans genuinely fan out. The keyless dimensions
  * (`nation`, `region`) are written once, as one file: a copy of a row
  * whose key is not shifted is a duplicate key, and every join on it
  * would fan out `copies`×.
  *
  * Dup-heavy by construction: each document/embedding recurs `copies`
  * times under distinct ids — representative of crawl data and a
  * WORST-case load for the dedup/near-dup operators (pair volume grows
  * quadratically in dup-group size), which is exactly what the sf1 bench
  * wants to stress.
  *
  * Idempotent via the marker file `_SF1_READY`, which records the layout
  * version (2: keyless dims written once) and parameters; a directory
  * whose marker differs is rebuilt. Safe to call from tests and benches.
  */
object Fixtures {
  val DefaultDir: String =
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_sf1"

  /** key family → (owner table, owner column); members listed per table
    * below. Offsets derive from the OWNER's max so every member shifts
    * by the same amount and FK joins keep resolving within a copy.
    */
  private[graft] val families: Map[String, (String, String)] = Map(
    "orderkey" -> ("orders", "o_orderkey"),
    "custkey" -> ("customer", "c_custkey"),
    "suppkey" -> ("supplier", "s_suppkey"),
    "partkey" -> ("part", "p_partkey"),
    "docid" -> ("documents", "doc_id"),
    "vecid" -> ("embeddings", "vec_id"),
    "eventid" -> ("events", "event_id"),
    "userid" -> ("events", "user_id"))

  private[graft] val shifted: Map[String, Seq[(String, String)]] = Map(
    "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
      "l_suppkey" -> "suppkey"),
    "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
    "customer" -> Seq("c_custkey" -> "custkey"),
    "supplier" -> Seq("s_suppkey" -> "suppkey"),
    "part" -> Seq("p_partkey" -> "partkey"),
    "documents" -> Seq("doc_id" -> "docid"),
    "embeddings" -> Seq("vec_id" -> "vecid"),
    "events" -> Seq("event_id" -> "eventid", "user_id" -> "userid"),
    // keyless dims: written once
    "nation" -> Nil,
    "region" -> Nil)

  def ensureSf1(spark: SparkSession,
                srcDir: String = "/root/testdata/sf0.1",
                destDir: String = DefaultDir,
                copies: Int = 10,
                filesPerTable: Int = 16): String = synchronized {
    val marker = Paths.get(destDir, "_SF1_READY")
    val stamp = s"layout=2 copies=$copies files=$filesPerTable"
    if (Files.exists(marker) && Files.readString(marker).trim == stamp) return destDir

    // events carries parquet TIMESTAMP(NANOS) (see Tables.events): read
    // the nanos as raw longs and write them back as plain INT64 — the
    // Tables.events `div 1000` rebuild works identically on either
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    val offsets: Map[String, Long] = families.map { case (fam, (tbl, c)) =>
      fam -> (src(tbl).agg(max(col(c))).head().getLong(0) + 1L)
    }

    shifted.foreach { case (table, keys) =>
      val base = src(table)
      val out = if (keys.isEmpty) base.coalesce(1) else
        (0 until copies).map { k =>
          keys.foldLeft(base) { case (d, (c, fam)) =>
            d.withColumn(c, col(c) + lit(k * offsets(fam)))
          }
        }.reduce(_ unionByName _)
          // round-robin repartition: uniform file sizes, no key
          // clustering — each file carries every copy's keys, like a
          // real ingest layout
          .repartition(filesPerTable)
      out.write.mode("overwrite").parquet(s"$destDir/$table.parquet")
    }
    Files.createDirectories(marker.getParent)
    Files.writeString(marker, stamp + "\n")
    destDir
  }
}

/** Standalone fixture builder: `runMain graft.EnsureSf1 [destDir]` —
  * builds the fixture for the full-surface sf1 sweep (Verify +
  * oracle_check). Idempotent via the versioned marker file: a fixture
  * of an older layout (keyless dims replicated) is rebuilt.
  */
object EnsureSf1 {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(LocalSession.cpus)
    val dir = Fixtures.ensureSf1(spark,
      destDir = args.headOption.getOrElse(Fixtures.DefaultDir))
    println(s"[fixtures] sf1 ready at $dir")
    spark.stop()
  }
}
