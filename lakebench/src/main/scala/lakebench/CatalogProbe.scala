package lakebench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Catalog counters of a traced run, measured from outside the engine:
  * files the scans read against the files in the table, and bytes of new
  * data files against the bytes of the partitions a write touched. Both
  * probes do nothing in an untraced run. */
final class CatalogProbe(spark: SparkSession) {
  private var filesInTable = 0L
  private var rewrittenBytes = 0L
  private var touchedBytes = 0L

  /** Counts `table`'s data files and lets the tracer count the files the
    * call's scans read from it. */
  def read[T](r: Runner, table: String)(body: => T): T = r.tracer match {
    case None => body
    case Some(t) =>
      val root = CatalogProbe.location(spark, table)
      filesInTable += CatalogProbe.dataFiles(root).size
      t.filesTable = Some(root)
      try body finally t.filesTable = None
  }

  /** Compares the tables' data files before and after the call. */
  def rewrite[T](r: Runner, tables: Seq[String])(body: => T): T =
    if (r.tracer.isEmpty) body
    else {
      val roots = tables.map(CatalogProbe.location(spark, _))
      def all() = roots.flatMap(CatalogProbe.dataFiles).toMap
      val before = all()
      val v = body
      val after = all()
      def part(f: String) = f.substring(0, f.lastIndexOf('/'))
      val touched = ((before.keySet -- after.keySet) ++ (after.keySet -- before.keySet)).map(part)
      touchedBytes += before.filter(f => touched.contains(part(f._1))).values.sum
      rewrittenBytes += (after.keySet -- before.keySet).toSeq.map(after).sum
      v
    }

  def metrics(t: Tracer): Map[String, Double] = {
    val read = t.spans.map(_.filesRead).sum
    Map("catalog.files_read" -> read.toDouble,
      "catalog.files_read_ratio" -> read.toDouble / math.max(1L, filesInTable),
      "catalog.rewrite_ratio" -> rewrittenBytes.toDouble / math.max(1L, touchedBytes))
  }
}

object CatalogProbe {
  /** The table's root directory as a plain path. */
  def location(spark: SparkSession, table: String): String =
    new java.net.URI(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .location.toString).getPath.stripSuffix("/")

  /** Data files under `root` (hidden and `_`-prefixed entries skipped):
    * path → bytes. */
  def dataFiles(root: String): Map[String, Long] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) Map.empty
    else {
      val s = Files.walk(base)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        base.relativize(p).iterator.asScala.forall { n =>
          !n.toString.startsWith(".") && !n.toString.startsWith("_") })
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }
}
