package perfbench

import scala.math.BigDecimal.RoundingMode
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded generator for the delivery CSVs the ETL job reads, shaped like
  * the reference input (FIXTURES.md section A), and a plain-Scala
  * recomputation of what the job must write for them.
  *
  * Shape: about 60% exact duplicate rows (within a file, where the job's
  * all-column dedup sees them: the lineage column differs across files);
  * pais and fecha_proceso 1:1, so the write fans out into 6 partitions;
  * a few out-of-range dates, COBR rows, a CS/ST unit mix with some lower
  * case units, empty `material` values, textual zeros (`0E-18`) and
  * 18-decimal price expansions; file names with a space, which the
  * lineage column carries URL-encoded as `%20`.
  */
object EtlGen {
  final case class Row(pais: String, fecha: String, transporte: Int, ruta: Int,
                       tipo: String, material: String, precio: String,
                       cantidad: String, unidad: String) {
    def csv: String =
      Seq(pais, fecha, transporte, ruta, tipo, material, precio, cantidad, unidad).mkString(",")
  }

  val Header = "pais,fecha_proceso,transporte,ruta,tipo_entrega,material,precio,cantidad,unidad"

  /** Countries with their single process date and reference row weight. */
  private val Countries = Seq(("SV", "20250325", 162), ("HN", "20250314", 119),
    ("EC", "20250217", 48), ("JM", "20250602", 36), ("GT", "20250513", 12),
    ("PE", "20250114", 2))
  private val OutOfRange = IndexedSeq("20231201", "20240615", "20250815", "20251120")
  private val Tipos = Seq(("ZPRE", 183), ("ZVE1", 36), ("Z04", 75), ("Z05", 39), ("COBR", 46))

  private def weighted[A](rnd: SplittableRandom, xs: Seq[(A, Int)]): A = {
    var r = rnd.nextInt(xs.map(_._2).sum)
    xs.find { case (_, w) => r -= w; r < 0 }.get._1
  }

  private def freshRow(rnd: SplittableRandom): Row = {
    val (pais, fecha0) = weighted(rnd, Countries.map { case (p, f, w) => (p, f) -> w })
    val fecha = if (rnd.nextInt(100) < 3) OutOfRange(rnd.nextInt(OutOfRange.size)) else fecha0
    val cents = 100 + rnd.nextInt(500000)
    val price = f"${cents / 100}%d.${cents % 100}%02d"
    val precio = rnd.nextInt(100) match {
      case r if r < 2 => "0E-18"
      case r if r < 12 => price + "0" * 16
      case _ => price
    }
    val qty = 1 + rnd.nextInt(240)
    Row(pais, fecha,
      transporte = 10000000 + rnd.nextInt(89999999),
      ruta = 100000 + rnd.nextInt(8999999),
      tipo = weighted(rnd, Tipos),
      material = if (rnd.nextInt(100) < 5) "" else f"AA${rnd.nextInt(2000)}%06d",
      precio = precio,
      cantidad = if (rnd.nextBoolean()) s"$qty" else s"$qty.0",
      unidad = rnd.nextInt(100) match {
        case r if r < 2 => "cs"
        case r if r < 72 => "CS"
        case _ => "ST"
      })
  }

  /** `files` files of `rowsPerFile` rows each. Each row is a copy of an
    * earlier row of its file with probability 0.6, else fresh. */
  def generate(seed: Long, files: Int, rowsPerFile: Int): IndexedSeq[(String, IndexedSeq[Row])] = {
    val rnd = new SplittableRandom(seed)
    (0 until files).map { f =>
      val rows = new scala.collection.mutable.ArrayBuffer[Row](rowsPerFile)
      while (rows.size < rowsPerFile) {
        rows += (if (rows.nonEmpty && rnd.nextInt(10) < 6) rows(rnd.nextInt(rows.size))
                 else freshRow(rnd))
      }
      f"entregas productos $f%02d.csv" -> rows.toIndexedSeq
    }
  }

  /** Write the files into `dir`; returns their paths. */
  def write(dir: Path, files: IndexedSeq[(String, IndexedSeq[Row])]): Seq[Path] = {
    Files.createDirectories(dir)
    files.map { case (name, rows) =>
      val sb = new java.lang.StringBuilder(rows.size * 64)
      sb.append(Header).append('\n')
      rows.foreach(r => sb.append(r.csv).append('\n'))
      Files.write(dir.resolve(name), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** What the job must write: rows per (fecha_proceso, pais) output
    * partition and the exact sum of `total_estandar` per partition, each
    * value taken to 10 decimals. */
  final case class Expected(rowsIn: Long, rowsOut: Long,
                            partitions: Map[(String, String), (Long, BigDecimal)])

  private val Ymd = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Independent recomputation of the reference job on the generated rows,
    * with the parameters of `perfbench/etl/deliveries.yaml`. */
  def expected(files: IndexedSeq[(String, IndexedSeq[Row])]): Expected = {
    val start = LocalDate.parse("2024-12-01")
    val end = LocalDate.parse("2025-07-30")
    def num(s: String): Option[Double] = if (s.isEmpty) None else Some(s.toDouble)
    // all-column dedup on the parsed values, scoped by the lineage column
    val deduped = files.flatMap { case (name, rows) =>
      rows.map(r => (r.pais, r.fecha, r.transporte, r.ruta, r.tipo,
        Option(r.material).filter(_.nonEmpty), num(r.precio), num(r.cantidad), r.unidad, name))
        .distinct
    }
    val out = deduped.flatMap { case (pais, fecha, _, _, tipo, _, precio, cantidad, unidad, _) =>
      val date = LocalDate.parse(fecha, Ymd)
      val kept = !date.isBefore(start) && !date.isAfter(end) &&
        Set("ZPRE", "ZVE1", "Z04", "Z05")(tipo.toUpperCase)
      if (!kept) None
      else {
        val p = precio.getOrElse(0.0)
        val q = cantidad.get
        val isCs = unidad.toUpperCase == "CS"
        val qStd = if (isCs) q * 20 else q
        val pStd = if (isCs) BigDecimal(p / qStd).setScale(2, RoundingMode.HALF_UP).toDouble else p
        val total = qStd * pStd
        Some((date.toString, pais) -> BigDecimal(total).setScale(10, RoundingMode.HALF_UP))
      }
    }
    val parts = out.groupBy(_._1).map { case (k, vs) => k -> ((vs.size.toLong, vs.map(_._2).sum)) }
    Expected(files.map(_._2.size.toLong).sum, out.size.toLong, parts)
  }
}
