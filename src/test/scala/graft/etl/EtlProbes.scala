package graft.etl

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlTestShims, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** Probes over one piece of ETL work: the log lines it wrote, the Spark
  * jobs it started and the SQL executions that scanned CSV input.
  */
object EtlProbes extends AdaptiveSparkPlanHelper {

  val header =
    "pais,fecha_proceso,transporte,ruta,tipo_entrega,material,precio,cantidad,unidad"

  /** A directory holding one CSV file of `header` and `rows`. */
  def csvDir(rows: String*): Path = {
    val dir = Files.createTempDirectory("graft_etl_csv")
    Files.write(dir.resolve("part0.csv"), (header +: rows).asJava)
    dir
  }

  /** `f`'s outcome and the `LEVEL | func | message` lines it logged. */
  def logged[A](f: => A): (Try[A], Seq[String]) = {
    val logFile = Files.createTempFile("graft_etl", ".log")
    PipeLog.init(LoggingConf(Some(logFile.toString), "INFO"))
    val result = try Try(f) finally PipeLog.close()
    (result, Files.readAllLines(logFile).asScala.toSeq
      .filter(_.nonEmpty).map(_.split(" \\| ", 2)(1)))
  }

  /** `f`'s result and the number of Spark jobs it started. */
  def jobs[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val a = try f finally sc.clearJobGroup()
      GraftSqlTestShims.drainListenerBus(spark)
      (a, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** `f`'s result and the number of SQL executions it ran that scanned CSV
    * files: a CSV scan node in the executed plan, or in the plan of a cached
    * relation it reads, whose output-row count grew during the execution. A
    * cache filled earlier holds the same scan node, but its count no longer
    * grows.
    */
  def csvScans[A](spark: SparkSession)(f: => A): (A, Int) = {
    val rowsSeen = new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Long]()
    val scanned = new AtomicInteger
    def record(qe: QueryExecution): Unit = {
      val grew = csvScanNodes(qe.executedPlan).map { s =>
        val rows = s.metrics("numOutputRows").value
        rows > Option(rowsSeen.put(s, rows)).fold(0L)(_.longValue)
      }
      if (grew.contains(true)) scanned.incrementAndGet()
    }
    val listener = new QueryExecutionListener {
      def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    GraftSqlTestShims.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val a = f
      GraftSqlTestShims.drainListenerBus(spark)
      (a, scanned.get)
    } finally spark.listenerManager.unregister(listener)
  }

  private def csvScanNodes(plan: SparkPlan): Seq[FileSourceScanExec] = collect(plan) {
    case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => Seq(s)
    case i: InMemoryTableScanExec => csvScanNodes(i.relation.cachedPlan)
  }.flatten
}
