package perfbench

import java.nio.file.Files

class EtlGenSpec extends SparkSuite {
  private def bytes(seed: Long, sub: String): Seq[Array[Byte]] = {
    val dir = work.resolve(sub)
    Dirs.deleteRecursively(dir)
    EtlGen.write(dir, EtlGen.generate(seed, 3, 500)).map(p => Files.readAllBytes(p))
  }

  test("the same seed gives identical bytes; another seed does not") {
    val a = bytes(7, "a")
    val b = bytes(7, "b")
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!java.util.Arrays.equals(a.head, bytes(8, "c").head))
  }

  test("the generated input has the reference input's shape") {
    val gen = EtlGen.generate(11, 8, 2000)
    assert(gen.size == 8 && gen.forall(_._1.contains(" ")))
    val rows = gen.flatMap(_._2)
    val distinct = gen.map(_._2.distinct.size).sum
    val dupShare = 1 - distinct.toDouble / rows.size
    assert(dupShare > 0.5 && dupShare < 0.7, s"duplicate share $dupShare")
    assert(rows.exists(_.material.isEmpty) && rows.exists(_.tipo == "COBR"))
    assert(rows.exists(_.precio == "0E-18") && rows.exists(_.unidad == "ST"))
    assert(rows.exists(r => r.fecha < "20241201" || r.fecha > "20250730"))
    assert(EtlGen.expected(gen).partitions.size == 6)
  }

  test("the plain recomputation agrees with EtlRunner.run") {
    val (conf, expected, _) =
      Workloads.etlInput(work.resolve("run"), 5, bench.resolve("etl/deliveries.yaml"), 2, 2000)
    val op = new EtlOp(conf, expected)
    op.run(spark, _ => ())
    assert(op.check(spark).isEmpty)
    val lineage = spark.read.parquet(s"${conf.output.basePath}/PROD")
      .select("filename").distinct().collect().map(_.getString(0))
    assert(lineage.nonEmpty && lineage.forall(_.contains("%20")))
  }

  test("the check catches a wrong output") {
    val (conf, expected, _) =
      Workloads.etlInput(work.resolve("bad"), 5, bench.resolve("etl/deliveries.yaml"), 2, 2000)
    val skewed = expected.copy(partitions = expected.partitions.map { case (k, (n, t)) =>
      k -> ((n, t + 1)) })
    val op = new EtlOp(conf, skewed)
    op.run(spark, _ => ())
    assert(op.check(spark).exists(_.startsWith("partition")))
  }
}
