package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark harness.
  *
  *   run --workload W --seed N --seconds S --trace 0|1 --work DIR --bench DIR
  *   prep --work DIR --bench DIR          build the query tables once
  *   expect --work DIR --bench DIR        regenerate expected query digests
  *   hashdir --bench DIR --dump DIR       digest a graft.Verify dump and
  *                                        compare it with the expected values
  *   survey --work DIR --bench DIR --out FILE   time every engine query
  *
  * `--bench` is the benchmark's own directory (committed inputs, config,
  * expected values); `--work` holds everything generated. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def path(k: String): Path = Paths.get(opts(k)).toAbsolutePath
    val code = args.headOption match {
      case Some("run") =>
        Bench.run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
          opts.getOrElse("trace", "0") == "1", path("work"), path("bench"))
      case Some("prep") => QueryData.prep(path("work"), path("bench")); 0
      case Some("expect") => QueryData.expect(path("work"), path("bench")); 0
      case Some("hashdir") => QueryData.hashDir(path("bench"), path("dump"))
      case Some("survey") => QueryData.survey(path("work"), path("bench"), path("out")); 0
      case other => System.err.println(s"unknown command $other"); 2
    }
    sys.exit(code)
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()
}

/** The query workloads' tables and their expected results. */
object QueryData {
  /** Replication factor over the committed sf0.01 tables: 10 copies give
    * sf0.1-sized tables (600 k lineitem rows) in 4 files per table. */
  val Copies = 10
  val FilesPerTable = 4

  def dataDir(work: Path): Path = work.resolve("data/sf01x10")
  /** The committed sf0.01 tables, which the JIT warm-up pass reads. */
  def smallDir(bench: Path): Path = bench.resolve("data/sf0.01")
  def expectedFile(bench: Path): Path = bench.resolve("expected/queries.json")

  /** Build the query tables with `graft.Fixtures.ensureSf1` (idempotent). */
  def prep(work: Path, bench: Path): Unit = {
    val spark = BenchSession.build(Main.nproc, work)
    try graft.Fixtures.ensureSf1(spark, srcDir = smallDir(bench).toString,
      destDir = dataDir(work).toString, copies = Copies, filesPerTable = FilesPerTable)
    finally spark.stop()
  }

  def loadExpected(bench: Path): Map[String, Digest] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(expectedFile(bench).toFile, classOf[java.util.Map[String, java.util.Map[String, Object]]])
    m.asScala.map { case (k, v) =>
      k -> Digest(v.get("rows").toString.toLong, v.get("hash").toString, v.get("cols").toString)
    }.toMap
  }

  private def writeExpected(bench: Path, ds: Seq[(String, Digest)]): Unit = {
    Files.createDirectories(expectedFile(bench).getParent)
    val body = ds.sortBy(_._1).map { case (n, d) =>
      s"  ${Json(n)}: ${Json(Map("rows" -> d.rows, "hash" -> d.hash, "cols" -> d.cols))}"
    }.mkString("{\n", ",\n", "\n}\n")
    Files.write(expectedFile(bench), body.getBytes("UTF-8"))
  }

  /** Digest every benchmark query and commit the values as expected. */
  def expect(work: Path, bench: Path): Unit = {
    prep(work, bench)
    val spark = BenchSession.build(Main.nproc, work)
    val dir = dataDir(work).toString
    val names = Workloads.Light
    val ds = names.map { n =>
      val d = Digest.of(new QueryOp(n, dir).build(spark))
      System.err.println(s"[expect] $n $d")
      n -> d
    }
    writeExpected(bench, ds)
    spark.stop()
  }

  /** Digest each query dumped by `graft.Verify` into `dump` and compare it
    * with the expected value: ties the committed digests to results the
    * DuckDB oracle has checked. Returns the number of mismatches. */
  def hashDir(bench: Path, dump: Path): Int = {
    val spark = BenchSession.build(Main.nproc, dump.resolve("../perfbench-hashdir"))
    val want = loadExpected(bench)
    val bad = want.toSeq.sortBy(_._1).count { case (n, d) =>
      val p = dump.resolve(n)
      val got = if (Files.exists(p)) Some(Digest.of(spark.read.parquet(p.toString))) else None
      val ok = got.contains(d)
      println(s"${if (ok) "OK  " else "DIFF"} $n expected=$d dump=$got")
      !ok
    }
    println(s"hashdir: ${want.size - bad}/${want.size} match")
    spark.stop()
    bad
  }

  /** Time every SparkEntry query to its full result, cold then warm, one
    * JSON line each, with the plan features the per-layer metrics count:
    * the evidence the light list is drawn from (`LightList`). */
  def survey(work: Path, bench: Path, out: Path): Unit = {
    prep(work, bench)
    val spark = BenchSession.build(Main.nproc, work)
    val dir = dataDir(work).toString
    val w = Files.newBufferedWriter(out)
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      val op = new QueryOp(n, dir)
      def time(): Either[String, (Double, Double)] = try {
        val t0 = System.nanoTime()
        val df = op.build(spark)
        val t1 = System.nanoTime()
        QueryOp.writeNoop(df)
        Right(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      } catch { case e: Throwable => Left(e.toString.take(200)) }
      val runs = Seq(time(), time(), time())
      // untimed: the features of the plan the query's own result needs
      val plan = try Some(Plans.counts(op.build(spark).queryExecution.executedPlan))
        catch { case _: Throwable => None }
      val line = Json(Map("query" -> n,
        "build_s" -> runs.map(_.map(_._1).getOrElse(-1.0)),
        "exec_s" -> runs.map(_.map(_._2).getOrElse(-1.0)),
        "topk_nodes" -> plan.map(_.topkNodes),
        "interpreted_exprs" -> plan.map(_.interpretedExprs),
        "error" -> runs.collectFirst { case Left(e) => e }))
      w.write(line + "\n"); w.flush()
      System.err.println(line)
    }
    w.close()
    spark.stop()
  }
}
