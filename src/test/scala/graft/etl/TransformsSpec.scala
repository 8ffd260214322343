package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.SparkTestBase

/** Per-operator unit tests over the edge semantics pinned in SURVEY §7.5. */
class TransformsSpec extends SparkTestBase {
  import spark.implicits._

  private def deliveries(rows: (String, String, String, Double, Double, String)*) =
    rows.toDF("pais", "tipo_entrega", "material", "precio", "cantidad", "unidad")

  test("dedup removes exact duplicates only") {
    val df = Seq(("a", 1), ("a", 1), ("a", 2)).toDF("k", "v")
    assert(Transforms.dedup(df).count() === 2)
  }

  test("delivery filter: disjoint branches union; null source rows drop") {
    val inds = Seq(
      IndicatorConf("i1", "tipo_entrega", Seq("ZPRE", "ZVE1")),
      IndicatorConf("i2", "tipo_entrega", Seq("Z04")))
    val df = deliveries(
      ("GT", "zpre", "m", 1, 1, "CS"),   // matches via upper()
      ("GT", "Z04", "m", 1, 1, "CS"),
      ("GT", "COBR", "m", 1, 1, "CS"),   // matches neither
      ("GT", null, "m", 1, 1, "CS"))     // null predicate → dropped
    assert(Transforms.deliveryFilter(df, inds).count() === 2)
  }

  test("delivery filter: OVERLAPPING branches duplicate rows (bag union, U1)") {
    val inds = Seq(
      IndicatorConf("i1", "tipo_entrega", Seq("ZPRE", "Z04")),
      IndicatorConf("i2", "tipo_entrega", Seq("Z04")))
    val df = deliveries(("GT", "Z04", "m", 1, 1, "CS"))
    assert(Transforms.deliveryFilter(df, inds).count() === 2)
  }

  test("delivery filter rejects an empty indicator list with a clear message") {
    val df = deliveries(("GT", "ZPRE", "m", 1, 1, "CS"))
    val e = intercept[IllegalArgumentException](Transforms.deliveryFilter(df, Nil))
    assert(e.getMessage.contains("at least one indicator"))
  }

  test("country filter: TODOS sentinel is case-insensitive bypass") {
    val df = deliveries(("GT", "ZPRE", "m", 1, 1, "CS"), ("SV", "ZPRE", "m", 1, 1, "CS"))
    def conf(v: String) = RunConf("T", "2000-01-01", "2100-01-01",
      "fecha_proceso", "yyyyMMdd", "pais", v)
    assert(Transforms.countryFilter(df, conf("todos")).count() === 2)
    assert(Transforms.countryFilter(df, conf("TODOS")).count() === 2)
    assert(Transforms.countryFilter(df, conf("GT")).count() === 1)
  }

  test("date filter bounds are inclusive") {
    val run = RunConf("T", "2025-01-01", "2025-01-31", "d", "yyyyMMdd", "pais", "TODOS")
    val df = Seq("20241231", "20250101", "20250131", "20250201").toDF("d")
      .transform(Transforms.parseDate(_, run))
    assert(Transforms.dateFilter(df, run).as[java.sql.Date].collect().map(_.toString).sorted
      === Array("2025-01-01", "2025-01-31"))
  }

  test("parseDate throws on unparseable input under ANSI (E2 parity)") {
    val run = RunConf("T", "2025-01-01", "2025-01-31", "d", "yyyyMMdd", "pais", "TODOS")
    val df = Seq("garbage").toDF("d").transform(Transforms.parseDate(_, run))
    assertThrows[Exception](df.collect())
  }

  test("indicator columns: 1 on match, 0 otherwise incl. null source") {
    val inds = Seq(IndicatorConf("flag", "tipo_entrega", Seq("ZPRE")))
    val df = deliveries(("GT", "ZPRE", "m", 1, 1, "CS"), ("GT", null, "m", 1, 1, "CS"))
    val got = Transforms.indicatorCols(df, inds).select("flag").as[Int].collect().sorted
    assert(got === Array(0, 1))
  }

  test("unit standardization: factor, HALF_UP rounding, rounded total (E5-E8)") {
    val u = UnitConf("unidad", "cantidad", "precio", "CS", 20.0, "ST",
      "cantidad_estandar", "precio_estandar", "unidad_estandar")
    val df = deliveries(
      ("GT", "ZPRE", "m", 71070.0, 20.0, "cs"),  // lower-case unit still converts
      ("GT", "ZPRE", "m", 50.0, 3.0, "ST"))      // ST: untouched
    val out = Transforms.totalColumn(Transforms.standardizeUnits(df, u), u, "total")
      .select("cantidad_estandar", "precio_estandar", "unidad_estandar", "total")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getString(2), r.getDouble(3)))
    // 71070/400 = 177.675 → HALF_UP 177.68; total uses the ROUNDED price
    assert(out.contains((400.0, 177.68, "ST", 71072.0)))
    assert(out.contains((3.0, 50.0, "ST", 150.0)))
  }

  test("null fills are type-scoped (E10/E11)") {
    val fill = FillConf("NOT INFO", Seq("material"), 0.0, Seq("precio"))
    val df = deliveries(("GT", "ZPRE", null, Double.NaN, 1.0, "CS"))
      .withColumn("precio", lit(null).cast("double"))
    val r = Transforms.fillNulls(df, fill).select("material", "precio").head()
    assert(r.getString(0) === "NOT INFO")
    assert(r.getDouble(1) === 0.0)
  }

  test("rename-and-order is a pure projection (P1/P2)") {
    val df = Seq((1, "x")).toDF("a", "b")
    val out = Transforms.renameAndOrder(df, Map("a" -> "a2"), Seq("b", "a2"))
    assert(out.columns.toSeq === Seq("b", "a2"))
  }

  test("V3 quirk: not-null check on a pre-rename column resolves post-rename") {
    val df = Seq((1.0, "m")).toDF("precio", "material")
    val renamed = Transforms.renameAndOrder(df,
      Map("precio" -> "precio_origen"), Seq("precio_origen", "material"))
    // 'precio' is not in renamed's schema, yet the check must pass via
    // ResolveMissingReferences — parity with the reference DQ behavior.
    val res = DataQuality.NotNull("precio").run(renamed)
    assert(res.passed)
  }

  /** `rows` as a parquet-backed frame: its columns are nullable and its
    * data unknown to the optimizer, so a null filter over it cannot fold.
    */
  private def parquet(rows: (Double, String)*) = {
    val dir = Files.createTempDirectory("graft_notnull").resolve("t").toString
    rows.toDF("precio", "material").write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("NotNull.runAll passes every column from one count when there are no nulls") {
    val df = parquet((1.0, "m"), (2.0, "n"))
    val (res, jobs) = EtlProbes.jobs(spark)(DataQuality.NotNull.runAll(df, Seq("precio", "material")))
    assert(jobs > 0)
    assert(jobs === EtlProbes.jobs(spark)(DataQuality.NotNull("precio").run(df))._2)
    assert(res === Seq("precio", "material").map(DataQuality.NotNull(_).run(df)))
    assert(res.map(_.detail) === Seq(
      "La columna 'precio' no contiene valores nulos.",
      "La columna 'material' no contiene valores nulos."))
    assert(res.forall(r => r.passed && r.measured.contains(0L)))
    assert(DataQuality.NotNull.runAll(df, Nil).isEmpty)
  }

  test("NotNull.runAll runs no job when every gated column is non-nullable") {
    // filled columns are non-nullable, so `isnull` is false on every row,
    // as on the ETL's gated columns
    val df = Transforms.fillNulls(parquet((1.0, "m"), (2.0, null)),
      FillConf("NOT INFO", Seq("material"), 0.0, Seq("precio")))
    val (res, jobs) = EtlProbes.jobs(spark)(DataQuality.NotNull.runAll(df, Seq("precio", "material")))
    assert(jobs === 0)
    assert(res === Seq("precio", "material").map(DataQuality.NotNull(_).run(df)))
    assert(res.map(_.detail) === Seq(
      "La columna 'precio' no contiene valores nulos.",
      "La columna 'material' no contiene valores nulos."))
    assert(res.forall(r => r.passed && r.measured.contains(0L)))
  }

  test("NotNull.runAll keeps the exact per-column counts when a column has nulls") {
    val df = Seq[(Option[Double], String, String)](
      (None, "m", "a"), (None, null, "b"), (Some(1.0), null, "c"), (Some(2.0), null, "d"))
      .toDF("precio", "material", "ruta")
    val res = DataQuality.NotNull.runAll(df, Seq("precio", "material", "ruta"))
    assert(res === Seq(
      DataQuality.CheckResult("not_null(precio)", false,
        "La columna 'precio' contiene 2 valores nulos.", Some(2L)),
      DataQuality.CheckResult("not_null(material)", false,
        "La columna 'material' contiene 3 valores nulos.", Some(3L)),
      DataQuality.CheckResult("not_null(ruta)", true,
        "La columna 'ruta' no contiene valores nulos.", Some(0L))))
  }

  test("NotNull.runAll resolves a pre-rename column post-rename (V3 quirk)") {
    def renamed(rows: (Option[Double], String)*) = Transforms.renameAndOrder(
      rows.toDF("precio", "material"),
      Map("precio" -> "precio_origen"), Seq("precio_origen", "material"))
    val ok = DataQuality.NotNull.runAll(renamed((Some(1.0), "m")), Seq("precio", "material"))
    assert(ok.forall(_.passed))
    val bad = DataQuality.NotNull.runAll(
      renamed((None, "m"), (Some(1.0), "n")), Seq("precio", "material"))
    assert(bad.map(r => (r.passed, r.measured)) === Seq((false, Some(1L)), (true, Some(0L))))
  }

  test("lineage basename equals the [^/]+$ regex on edge-case URIs") {
    val uris = Seq(
      "file:///data/raw/entregas%20mayo.csv",
      "file:///data/raw/",
      "entregas.csv",
      "",
      "file:///data/raw/a\nb.csv",
      "file:///data/raw/a.csv\n",
      "file:///data/ra\nw/a.csv",
      null).toDF("uri")
    val got = uris.select(
      regexp_extract(col("uri"), "[^/]+$", 0), Reader.basename(col("uri")))
      .as[(String, String)].collect()
    assert(got.length === 8)
    got.foreach { case (regex, basename) => assert(basename === regex) }
    assert(got.take(4).map(_._2).toSeq === Seq("entregas%20mayo.csv", "", "entregas.csv", ""))
  }

  test("schema builder maps the 3 supported types and rejects others") {
    val st = SchemaBuilder.build(Seq(
      FieldSpec("s", "string", nullable = true),
      FieldSpec("i", "integer", nullable = false)))
    assert(st.fields(0).dataType === StringType)
    assert(st.fields(1).dataType === IntegerType)
    assertThrows[IllegalArgumentException](
      SchemaBuilder.build(Seq(FieldSpec("x", "decimal", nullable = true))))
  }
}
