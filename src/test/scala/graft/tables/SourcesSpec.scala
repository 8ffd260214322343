package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Source/sink round-trips across the formats the engine supports:
  * parquet (primary), csv with explicit schema (the reference's input
  * path), json, and orc. Values must survive the round-trip exactly.
  */
class SourcesSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select("doc_id", "lang", "n_chars")

  private def roundTrip(fmt: String): Unit = {
    val dir = Files.createTempDirectory(s"graft_src_$fmt").toString
    docs.write.mode("overwrite").format(fmt).save(dir)
    val back = spark.read.format(fmt)
      .schema(docs.schema) // explicit schema: no inference pass (S1 parity)
      .load(dir)
    assert(back.orderBy("doc_id").collect().toSeq ===
      docs.orderBy("doc_id").collect().toSeq, s"round-trip mismatch for $fmt")
  }

  test("parquet round-trip preserves values")(roundTrip("parquet"))
  test("orc round-trip preserves values")(roundTrip("orc"))
  test("json round-trip preserves values")(roundTrip("json"))

  test("csv round-trip with header + explicit schema preserves values") {
    val dir = Files.createTempDirectory("graft_src_csv").toString
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(docs.schema).csv(dir)
    assert(back.orderBy("doc_id").collect().toSeq ===
      docs.orderBy("doc_id").collect().toSeq)
  }

  test("text source round-trip: one line per document") {
    val dir = Files.createTempDirectory("graft_src_text").toString
    val lines = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text") // single string column is the text sink contract
    lines.write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
    assert(back.count() === lines.count())
    assert(back.select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(col("value")))).head().getLong(0) ===
      lines.select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(col("text")))).head().getLong(0))
  }

  test("binaryFile source: blob files load as (path, content) rows and " +
       "feed the multimodal pipeline (the image/audio ingestion path)") {
    val dir = Files.createTempDirectory("graft_bin")
    val payloads = Seq("doc-one payload bytes", "doc-two other payload")
    payloads.zipWithIndex.foreach { case (p, i) =>
      Files.write(dir.resolve(s"blob_$i.bin"), p.getBytes("UTF-8"))
    }
    val bin = spark.read.format("binaryFile").load(dir.toString)
    assert(bin.columns.toSet ===
      Set("path", "modificationTime", "length", "content"))
    val rows = bin.orderBy("path").collect()
    assert(rows.length === 2)
    assert(new String(rows(0).getAs[Array[Byte]]("content"), "UTF-8") ===
      payloads(0))
    assert(rows(0).getAs[Long]("length") === payloads(0).length.toLong)
    // the multimodal feature extractor consumes exactly this shape:
    // opaque binary column + typed metadata
    val media = bin.select(
      regexp_extract(col("path"), "blob_(\\d+)", 1).cast("long").as("doc_id"),
      col("content").as("media"), col("length"))
    val feats = media.select(col("doc_id"),
      length(col("media")).as("byte_len")).orderBy("doc_id").collect()
    assert(feats.map(_.getInt(1)).toSeq === payloads.map(_.length))
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft_part").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("lang") === "en")
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
    assert(one.count() === docs.filter(col("lang") === "en").count())
  }

  // ------------------------------------------------------ cross-format
  // QUERY parity (beyond the value round-trips above): the p01
  // projection answered from parquet, ORC, and JSON copies of the SAME
  // table must be row-identical — the multi-source claim in COVERAGE
  // §2.1, pinned by execution. JSON is schema-applied on read
  // (inference would type dates as strings and change semantics).

  private def p01(li: org.apache.spark.sql.DataFrame): Seq[String] =
    li.select(
        col("l_orderkey").as("okey"),
        col("l_linenumber").as("lnum"),
        col("l_quantity").as("qty"),
        col("l_returnflag").as("rflag"))
      .orderBy("okey", "lnum", "qty", "rflag")
      .collect().map(_.toSeq.mkString("|")).toSeq

  test("p01 projection over parquet, orc, and json copies of lineitem " +
       "is row-identical (dates/decimals survive each format roundtrip)") {
    val pq = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir = Files.createTempDirectory("fmt").toString
    pq.write.mode("overwrite").orc(s"$dir/lineitem.orc")
    pq.write.mode("overwrite").json(s"$dir/lineitem.json")

    val fromParquet = p01(pq)
    assert(fromParquet.nonEmpty)
    assert(p01(spark.read.orc(s"$dir/lineitem.orc")) === fromParquet,
      "ORC scan diverged from parquet")
    assert(p01(spark.read.schema(pq.schema).json(s"$dir/lineitem.json"))
      === fromParquet, "JSON scan diverged from parquet")
  }

  test("full-row parity: every lineitem column survives the orc and " +
       "json roundtrips bit-for-bit") {
    val pq = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir = Files.createTempDirectory("fmt2").toString
    pq.write.mode("overwrite").orc(s"$dir/li.orc")
    pq.write.mode("overwrite").json(s"$dir/li.json")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.map(col)
      df.select(cols: _*)
        .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    }
    val base = canon(pq)
    assert(canon(spark.read.orc(s"$dir/li.orc")) === base)
    assert(canon(spark.read.schema(pq.schema).json(s"$dir/li.json")) === base)
  }

  test("catalog memo: repeated loads return the memoized relation; " +
       "invalidate(dir) makes the next load re-resolve (ADVICE r16)") {
    val a = Tables.documents(spark, "/root/testdata/sf0.001")
    val b = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(a eq b, "second load should return the memoized instance")
    Tables.invalidate(spark, "/root/testdata/sf0.001")
    val c = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(!(a eq c), "invalidate must drop the memoized relation")
    assert(c.count() === a.count())
  }

  test("catalog memo: a rewritten table dir serves fresh rows after " +
       "invalidate (the immutability-assumption escape hatch)") {
    val dir = Files.createTempDirectory("graft_memo").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").count() === 1)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    Tables.invalidate(spark, dir)
    assert(Tables(spark, dir, "t").count() === 2,
      "post-invalidate load must see the rewritten directory")
  }

  test("catalog memo: invalidate(dir) keeps a sibling dir whose name " +
       "extends dir's (sf0.1 vs sf0.15)") {
    val root = Files.createTempDirectory("graft_memo_sib").toString
    val (dir, sibling) = (s"$root/sf0.1", s"$root/sf0.15")
    import spark.implicits._
    Seq(dir, sibling).foreach { d =>
      Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(s"$d/t.parquet")
    }
    val (a, s) = (Tables(spark, dir, "t"), Tables(spark, sibling, "t"))
    Tables.invalidate(spark, dir)
    assert(!(Tables(spark, dir, "t") eq a), "invalidate must drop dir's relation")
    assert(Tables(spark, sibling, "t") eq s, "invalidate must keep the sibling's relation")
  }

  test("catalog memo: Caches.clearAll drops the memoized relations") {
    val a = Tables.documents(spark, "/root/testdata/sf0.001")
    graft.Caches.clearAll(spark)
    assert(!(Tables.documents(spark, "/root/testdata/sf0.001") eq a),
      "clearAll must drop the memoized relation")
  }

  test("invalidate(dir) drops the dup-rate probe memo of a rewritten table") {
    val dir = Files.createTempDirectory("graft_probe").toString
    import spark.implicits._
    Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text").write
      .parquet(s"$dir/documents.parquet")
    def rate = graft.operators.Dedup.dupFraction(Tables.documents(spark, dir), "text")
    assert(rate === 0.0)
    Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Tables.invalidate(spark, dir)
    assert(rate === 0.5, "the probe must re-run on the rewritten rows")
  }

  test("invalidate(dir) refreshes cached plans over a table rewritten outside Spark") {
    val root = Files.createTempDirectory("graft_refresh")
    val table = root.resolve("t.parquet")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(table.toString)
    def ids = graft.Caches.persistOnce(Tables(spark, root.toString, "t").select("id"))
    assert(ids.count() === 2)
    // replace the files as another process would: Spark's own writes
    // refresh the cache by path, this rewrite does not
    val staged = root.resolve("staged")
    Seq((1L, "a")).toDF("id", "v").write.parquet(staged.toString)
    Files.walk(table).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    Files.move(staged, table)
    Tables.invalidate(spark, root.toString)
    assert(ids.count() === 1, "a cached plan over the old files must not serve them")
  }

  test("catalog memo: stopped sessions are swept from the catalog map " +
       "on the next access (the value chain pins the weak key)") {
    // a private-field probe via reflection would overfit; instead pin
    // the OBSERVABLE contract — a fresh session gets its own memo map
    // and entries, and using the main session afterwards still works
    val s2 = spark.newSession()
    val d2 = Tables.documents(s2, "/root/testdata/sf0.001")
    assert(d2.sparkSession eq s2)
    val again = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(again.sparkSession eq spark)
  }
}
