package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkTestBase
import graft.etl.{IndicatorConf, Transforms, UnitConf}

/** Property-based checks (SURVEY §5.2): structural invariants that must
  * hold for arbitrary generated inputs, not just the committed fixtures.
  * Uses scalacheck generators with fixed seeds (scalatest runner).
  */
class PropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private val rowGen = Gen.listOfN(30, for {
    tipo <- Gen.oneOf("ZPRE", "ZVE1", "Z04", "Z05", "COBR")
    qty <- Gen.choose(1, 50)
    price <- Gen.choose(1, 100000)
    unit <- Gen.oneOf("CS", "ST", "cs")
  } yield (tipo, qty.toDouble, price / 100.0, unit))

  /** Ten deterministic samples per property. */
  private def forAll(body: List[(String, Double, Double, String)] => Unit): Unit =
    (1 to 10).foreach { i =>
      body(rowGen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  test("dedup is idempotent and monotone non-increasing") {
    forAll { rows =>
      {
        val df = rows.toDF("tipo_entrega", "cantidad", "precio", "unidad")
        val once = Transforms.dedup(df)
        assert(once.count() <= df.count())
        assert(Transforms.dedup(once).count() === once.count())
      }
    }
  }

  test("disjoint delivery filter partitions the matching rows") {
    forAll { rows =>
      {
        val df = rows.toDF("tipo_entrega", "cantidad", "precio", "unidad")
        val inds = Seq(
          IndicatorConf("i1", "tipo_entrega", Seq("ZPRE", "ZVE1")),
          IndicatorConf("i2", "tipo_entrega", Seq("Z04", "Z05")))
        val unioned = Transforms.deliveryFilter(df, inds).count()
        val direct = df.filter(upper(col("tipo_entrega"))
          .isin("ZPRE", "ZVE1", "Z04", "Z05")).count()
        assert(unioned === direct)
      }
    }
  }

  private val deliveryRowGen = Gen.listOfN(40, for {
    tipo <- Gen.oneOf(Some("ZPRE"), Some("zpre"), Some("ZVE1"), Some("Z04"),
      Some("z05"), Some("COBR"), None)
    qty <- Gen.choose(1, 3)
    unit <- Gen.oneOf("CS", "ST")
  } yield (tipo, qty, unit))

  private val familyGen = Gen.atLeastOne("ZPRE", "ZVE1", "Z04", "Z05", "COBR", "zpre")

  test("delivery filter is bag-equal to the reference's per-family union") {
    def bag(df: DataFrame): Map[Row, Int] =
      df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
    var overlapping = 0
    (1 to 12).foreach { i =>
      val df = deliveryRowGen.pureApply(Gen.Parameters.default, Seed(200L + i))
        .toDF("tipo_entrega", "cantidad", "unidad")
      val inds = Gen.listOfN(i % 3 + 1, familyGen)
        .pureApply(Gen.Parameters.default, Seed(300L + i))
        .zipWithIndex.map { case (vs, f) => IndicatorConf(s"f$f", "tipo_entrega", vs.toSeq) }
      if (inds.combinations(2).exists(p => p(0).values.intersect(p(1).values).nonEmpty))
        overlapping += 1
      // the reference's formulation (data_process.py:128-136) as the oracle
      val union = inds.map(i => df.filter(upper(col(i.source)).isin(i.values: _*)))
        .reduce(_ unionByName _)
      val got = Transforms.deliveryFilter(df, inds)
      assert(bag(got) === bag(union), s"sample $i, families ${inds.map(_.values)}")
    }
    assert(overlapping > 0, "no sample had overlapping families")
  }

  test("unit standardization: quantities scale by factor exactly for CS rows") {
    val u = UnitConf("unidad", "cantidad", "precio", "CS", 20.0, "ST",
      "cantidad_estandar", "precio_estandar", "unidad_estandar")
    forAll { rows =>
      {
        val df = rows.toDF("tipo_entrega", "cantidad", "precio", "unidad")
        val out = Transforms.standardizeUnits(df, u)
          .select("unidad", "cantidad", "cantidad_estandar", "unidad_estandar")
          .collect()
        out.foreach { r =>
          val expect = if (r.getString(0).equalsIgnoreCase("CS")) r.getDouble(1) * 20 else r.getDouble(1)
          assert(r.getDouble(2) === expect)
          assert(r.getString(3) === "ST")
        }
      }
    }
  }

  test("jaccard pairs are bounded in (0,1] and keyed d1 < d2") {
    val docs = Seq(
      (0L, "a b c d e f g"), (1L, "a b c d e f g"), (2L, "a b c x y z w"),
      (3L, "p q r s t u v"), (4L, "p q r s t u x"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, "text", "doc_id", n = 2, threshold = 0.01)
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j > 0.0 && j <= 1.0)
    }
  }

  private val mixGen = Gen.listOfN(40, for {
    src <- Gen.oneOf("A", "B", "C", "D")
    nTok <- Gen.choose(1, 30)
  } yield (src, nTok))

  test("tokenBudgetMix invariants: kept never exceeds alloc, total " +
       "alloc never exceeds budget, and alloc is monotone in budget") {
    (1 to 8).foreach { i =>
      val rows = mixGen.pureApply(Gen.Parameters.default, Seed(90L + i))
      val docs = rows.zipWithIndex.map { case ((src, n), id) =>
        (id.toLong, Seq.fill(n)("w").mkString(" "), src)
      }.toDF("doc_id", "text", "source")
      val budgets = Seq(0L, 17L, 61L, 200L, 10000L)
      val allocByBudget = budgets.map { b =>
        val out = Sampling.tokenBudgetMix(docs, "text", "doc_id", "source", b)
          .collect().map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
        out.foreach { case (src, (total, alloc, keptToks)) =>
          assert(keptToks <= alloc, s"budget $b src $src kept>alloc")
          assert(alloc <= total, s"budget $b src $src alloc>total")
        }
        assert(out.values.map(_._2).sum <= math.max(b, 0L),
          s"budget $b total alloc exceeded")
        out.map { case (s, (_, a, _)) => s -> a }
      }
      budgets.indices.dropRight(1).foreach { j =>
        val (lo, hi) = (allocByBudget(j), allocByBudget(j + 1))
        lo.keys.foreach { s =>
          assert(lo(s) <= hi(s),
            s"alloc not monotone in budget for $s: ${lo(s)} > ${hi(s)}")
        }
      }
    }
  }
}
