package graft.etl

import org.scalatest.funsuite.AnyFunSuite

class EtlConfigSpec extends AnyFunSuite {

  private def fixture: String =
    getClass.getResource("/etl-reference.yaml").getPath

  test("YAML config loads into the typed model") {
    val c = EtlConfig.load(fixture)
    assert(c.run.environment === "PROD")
    assert(c.run.startDate === "2024-12-01" && c.run.endDate === "2025-07-30")
    assert(c.input.fields.size === 9)
    assert(c.input.fields.head === FieldSpec("pais", "string", nullable = true))
    assert(c.indicators.map(_.name) === Seq("entrega_rutina", "entrega_bonificada"))
    assert(c.indicators.head.values === Seq("ZPRE", "ZVE1"))
    assert(c.fill.textValue === "NOT INFO" && c.fill.numericValue === 0.0)
    assert(c.units.factor === 20.0)
    assert(c.renames("precio") === "precio_origen")
    assert(c.columnOrder.size === 16)
    assert(c.quality.notNullColumns === Seq("precio", "material"))
    assert(c.logging === LoggingConf(
      Some("/tmp/graft_etl_out/pipeline_execution.log"), "INFO"))
  }

  test("loader matches YAML-loaded config against the in-code reference config") {
    val fromYaml = EtlConfig.load(fixture)
    val inCode = ReferenceJob.config("/root/reference/data/raw", "/tmp/graft_etl_out")
    assert(fromYaml === inCode)
  }

  test("a present-but-empty YAML key fails with the key name, not an NPE") {
    import scala.jdk.CollectionConverters._
    val base = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixture)))
    def section(name: String, next: String, body: String): String =
      base.replaceAll(s"(?s)\n$name:.*?\n$next:", s"\n$name:$body\n$next:")
    // (key the error must name, patched YAML)
    val cases = Seq(
      // "renames:" with no value loads as null
      "renames" -> section("renames", "column_order", ""),
      // a scalar where a section, a list or a list of sections belongs
      "run" -> section("run", "input", " PROD"),
      "column_order" -> section("column_order", "output", " fecha_proceso"),
      "indicators" -> section("indicators", "fill", " ZPRE"),
      "input.schema[0]" -> base.replace(
        "- {name: pais, type: string, nullable: true}", "- pais"),
      // an empty indicator list
      "indicators" -> section("indicators", "fill", " []"),
      // scalars that do not parse
      "quality.min_rows" -> base.replace("min_rows: 10", "min_rows: abc"),
      "units.factor" -> base.replace("factor: 20", "factor: twenty"),
      "input.schema[0].nullable" -> base.replace(
        "{name: pais, type: string, nullable: true}",
        "{name: pais, type: string, nullable: maybe}"))
    for ((key, patched) <- cases) {
      assert(patched != base, s"patch for $key did not apply")
      val m = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](patched).asScala.toMap
      val e = intercept[IllegalArgumentException](EtlConfig.fromMap(m))
      assert(e.getMessage.contains(key), s"$key: ${e.getMessage}")
    }
  }

  test("indicator condition values are deduplicated at load") {
    val c = EtlConfig.fromMap(rawMapWithDupValues)
    assert(c.indicators.head.values === Seq("A", "B"))
  }

  private def rawMapWithDupValues: Map[String, Object] = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val base = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixture)))
    val patched = base.replace("values: [ZPRE, ZVE1]", "values: [A, B, A]")
    import scala.jdk.CollectionConverters._
    yaml.load[java.util.Map[String, Object]](patched).asScala.toMap
  }
}
